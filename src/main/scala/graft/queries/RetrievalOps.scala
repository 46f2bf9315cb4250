package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse (lexical) retrieval — the BM25 side of the retrieval stack
  * the dense ANN ladder ([[SimilarityOps]]: q12 → q14 → q28 → q54 →
  * q65 → q67 → q70) deliberately left open. Production corpus search
  * is hybrid: a term-based BM25 leg over an inverted index plus a
  * dense-embedding leg, fused by reciprocal rank. These queries close
  * that loop:
  *
  *   - q76 — exact BM25 top-k for a bounded query set, computed
  *     directly from the corpus with NO vocabulary-sized relation
  *     anywhere (query terms are literals, so term frequencies are
  *     narrow per-row column expressions, not an exploded token
  *     shuffle);
  *   - q77 — the same search served from a PERSISTED inverted index
  *     ([[writeInvertedIndex]]: hash-bucketed postings + one-row
  *     corpus stats), row-identical to q76 by construction — the
  *     q61-for-q54 pattern applied to the sparse leg;
  *   - q78 — reciprocal-rank fusion of the sparse leg with the exact
  *     dense leg (q12's cosine metric), in exact integer rank
  *     arithmetic.
  *
  * The reference has no retrieval operator at all (its only ranking is
  * the hashtag top-N, TopNHashtags.java:126); this module is
  * north-star surface for the training-data/RAG pipelines the engine
  * targets.
  *
  * Float discipline (the q55/q72 lesson, adapted): BM25's score is
  * irreducibly float (idf × a saturation ratio), but it is NEVER
  * accumulated by an aggregate — each (query, doc) score is ONE fixed
  * expression tree (a literal left-associated sum over the query's
  * terms) built from the SAME SQL fragment on both engines
  * ([[scoreSqlFragment]] feeds Spark's `expr` and the DuckDB oracle
  * verbatim), so there is no addition-order hazard; the result is
  * rounded to 1e-6 for the output and the rank tie-break (q12's
  * discipline, relying on cross-engine `ln` bit-identity exactly as
  * q42/q55 already do).
  */
object RetrievalOps {

  /** The bounded query workload: (query id, terms). Query 1 mixes two
    * common terms with the fixture's one RARE term ("dup", df≈5% —
    * its high idf dominates, which is what makes the ranking
    * non-trivial); 2 and 3 are all-common. A deployment swaps this
    * literal set per request batch; it is bounded by construction
    * (the q50 probe-set pattern), never a relation. */
  val BmQueries: Seq[(Int, Seq[String])] = Seq(
    (1, Seq("spark", "window", "dup")),
    (2, Seq("join", "merge", "sort")),
    (3, Seq("vector", "hash")))

  /** Union of all query terms, in first-appearance order — the fixed
    * column layout of the per-doc term-frequency projection. */
  val AllTerms: Seq[String] = BmQueries.flatMap(_._2).distinct

  /** BM25 constants (the standard Robertson/Lucene defaults). Kept as
    * SOURCE STRINGS so the Spark expression and the oracle parse the
    * byte-identical literal — both engines then hold the same double. */
  val K1 = "1.2"
  val B = "0.75"

  /** Results per query. */
  val TopK = 10

  /** RRF smoothing constant (Cormack et al. 2009's k=60). */
  val RrfK = 60

  /** Postings hash-bucket count for the persisted index — the
    * partition key a serving scan prunes on. 64 is fixture-scaled; a
    * web-vocabulary deployment raises it (bucket count only changes
    * WHERE postings land, not any result). */
  val IndexBuckets = 64

  // ---------------------------------------------------------- shared

  /** The BM25 score of one query as a SQL fragment over columns
    * `tf_<term>`, `df_<term>`, `dl`, `n`, `sumdl` — one
    * idf·saturation product per term, left-associated in query-term
    * order. Used VERBATIM by both the Spark plan (`expr`) and the
    * DuckDB oracle, so the float expression tree cannot drift between
    * engines (the q14/q28 implementation-verifying pattern, applied
    * to an expression instead of constants).
    *
    * Per term t: `ln(1 + (n − df_t + ½)/(df_t + ½))` (Lucene's
    * +1-smoothed idf, positive for every df) times
    * `tf_t·(k1+1) / (tf_t + k1·(1 − b + b·dl/avgdl))` with
    * `avgdl = sumdl/n` (both engines divide BIGINTs to double). A
    * term absent from the doc contributes exactly 0 (tf_t = 0 zeroes
    * the numerator; the denominator stays positive), so candidates
    * need any-term presence only. */
  private[graft] def scoreSqlFragment(
      terms: Seq[String], stat: String => String = identity): String =
    terms.map { t =>
      s"ln(1.0 + (${stat("n")} - ${stat(s"df_$t")} + 0.5) / (${stat(s"df_$t")} + 0.5))" +
        s" * (tf_$t * (1.0 + $K1)" +
        s" / (tf_$t + $K1 * (1.0 - $B + $B * dl / (${stat("sumdl")} / ${stat("n")}))))"
    }.mkString(" + ")

  /** Rank the per-doc term-frequency relation (`doc_id, dl,
    * tf_<term>…`) against one-row corpus stats (`n, sumdl,
    * df_<term>…`): score every query against every candidate doc in
    * ONE pass (a 3-struct explode — bounded fan-out, stays codegen'd),
    * keep any-term hits, round, rank per query.
    *
    * Shared by q76 (tf columns computed in-scan) and q77 (tf columns
    * reassembled from the persisted postings) so the two paths CANNOT
    * diverge — q77's row-identity to q76 is by construction, exactly
    * how q61 inherits q54's oracle.
    *
    * Scale shape: `stats` is one row (broadcast unconditionally — the
    * q55 totals convention); the explode multiplies candidate rows by
    * |queries| (bounded literal); the only exchange is the per-query
    * top-k window, and Spark's rank-limit pushdown (`WindowGroupLimit`)
    * runs it partially below the shuffle, so the exchange carries
    * ≤ k·partitions rows per query — the ANN family's per-probe top-k
    * shape. The ≤ k·|Q| survivors coalesce into one partition before
    * the contract sort, so that sort needs no range exchange (and no
    * sampling job); nothing corpus-sized reaches the one task, because
    * each window's input was already cut by the partial
    * `WindowGroupLimit` before its shuffle. */
  private[graft] def scoreAndRank(perDoc: DataFrame, stats: DataFrame): DataFrame = {
    val branches = BmQueries.map { case (qid, terms) =>
      struct(
        lit(qid).as("qid"),
        expr(scoreSqlFragment(terms)).as("score"),
        terms.map(t => col(s"tf_$t") > 0).reduce(_ || _).as("hit"))
    }
    val byQuery = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"), explode(array(branches: _*)).as("q"))
      .filter(col("q.hit"))
      .select(col("q.qid").as("qid"), col("doc_id"),
        round(col("q.score"), 6).as("score"))
      .withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= TopK)
      .coalesce(1)
      .select(col("qid"), col("rank"), col("doc_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-doc projection `(doc_id, dl, tf_<term>…)` — term frequencies
    * as narrow per-row `size(filter(tokens, = term))` columns over the
    * canonical tokenizer. Because the query terms are literals, this
    * NEVER explodes the corpus: no token shuffle, no vocabulary
    * relation, one codegen'd projection (vs q55's corpus-sized unigram
    * table — the difference between scoring a corpus and serving a
    * bounded query set). */
  private[graft] def docTermProjection(docs: DataFrame): DataFrame = {
    val tk = TextOps.toks(col("text"))
    val cols = col("doc_id") +: size(tk).cast("long").as("dl") +:
      AllTerms.map(t =>
        size(filter(tk, x => x === lit(t))).cast("long").as(s"tf_$t"))
    // fan-out guard (opt round 20): tokenize + |terms| filters per doc
    // is the sparse leg's per-row CPU; starved inputs serialized it.
    ScaleHints.fanOutIfTiny(docs).select(cols: _*)
  }

  // ------------------------------------------------------------- q76

  /** q76 — exact BM25 top-k over the corpus for the bounded query set.
    *
    * Two scans of `documents`, both projection-pruned to `text` (+id):
    * one folds to the ONE-ROW stats relation (corpus size, total
    * length, per-query-term document frequencies — fixed width, never
    * vocabulary-sized), the other feeds candidates into
    * [[scoreAndRank]]. At 100 TB the stats scan disappears entirely:
    * a deployment serves N/avgdl/df from the persisted index's stats
    * artifact — which is exactly what q77 does.
    */
  def q76Bm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val proj = docTermProjection(Tables.documents(spark, dir))
    val stats = corpusStats(proj)
    scoreAndRank(proj, stats)
  }

  /** One-row corpus stats from the per-doc projection: doc count,
    * summed length, and per-term document frequencies. */
  private def corpusStats(proj: DataFrame): DataFrame = {
    val aggs = sum(col("dl")).as("sumdl") +:
      AllTerms.map(t =>
        sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    proj.agg(count(lit(1)).as("n"), aggs: _*)
  }

  def q76OracleSql(): String = {
    val tfCols = AllTerms.map(t =>
      s"len(list_filter(tk, x -> x = '$t'))::BIGINT AS tf_$t")
      .mkString(",\n|         ")
    val dfCols = AllTerms.map(t =>
      s"sum((tf_$t > 0)::INT)::BIGINT AS df_$t").mkString(", ")
    val branches = BmQueries.map { case (qid, terms) =>
      val hit = terms.map(t => s"tf_$t > 0").mkString(" OR ")
      s"""|  SELECT $qid AS qid, doc_id,
          |         round(${scoreSqlFragment(terms)}, 6) AS score
          |  FROM c, g WHERE $hit"""
    }.mkString("\n|  UNION ALL\n")
    s"""|WITH tok AS (
        |  SELECT doc_id,
        |         list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS tk
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, len(tk)::BIGINT AS dl,
        |         $tfCols
        |  FROM tok
        |), g AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl, $dfCols
        |  FROM c
        |), cand AS (
        $branches
        |), ranked AS (
        |  SELECT qid, doc_id, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        |  FROM cand
        |)
        |SELECT qid, rank, doc_id, score FROM ranked
        |WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  // ------------------------------------------------------------- q77

  /** Build the persisted inverted index: postings
    * `(doc_id, dl, tf, token)` partitioned by `(gen, bucket)` with
    * `bucket = pmod(xxhash64(token), [[IndexBuckets]])` — a serving
    * scan prunes to its query terms' buckets (constant-folded
    * partition filters, spec-pinned) and never touches the rest —
    * plus per-generation one-row corpus stats under `path/_stats`
    * (underscore-prefixed like q61's `_quantizer`, invisible to
    * readers of `path`). Document length rides ON the posting row
    * (Lucene's norms trick) so serving never joins a corpus-sized
    * doc-length relation.
    *
    * `gen` is the CRASH-ATOMICITY key (the `_GENERATION` manifest
    * pattern [[graft.streaming.CorpusStream.compact]] established):
    * readers take the committed window `[lo, hi]` from the `path/
    * _GENERATION` manifest and scan postings `lo <= gen <= hi` with
    * stats `gen = hi`, so an [[appendInvertedIndex]] that crashed
    * before its manifest flip is NEVER observable — its orphaned
    * `gen = hi+1` files are invisible to every reader and purged by
    * the retry — and a committed [[compactIndex]] hides the
    * generations it replaced the same way. The manifest itself flips
    * by atomic rename (one tiny file).
    *
    * Build cost: one corpus scan + one (token, doc) aggregate — the
    * exchange carries fixed-width rows keyed by the token, text never
    * shuffles. df is NOT stored: it is `count(postings(t))`, exact and
    * derivable from the pruned scan at serve time (so index appends
    * keep df consistent for free). */
  def writeInvertedIndex(docs: DataFrame, path: String): Unit = {
    // one task per bucket directory (compactIndex's rationale, applied
    // to the build): without it every post-aggregate partition writes
    // into every bucket — tasks × buckets small files per generation,
    // multiplying every pruned serving scan's file count. At fixture
    // scale AQE coalesces the tiny aggregate output and masks the
    // fragmentation (measured: both forms ~3.4 s, ~23 files at sf0.1);
    // at production scale the aggregate retains hundreds of partitions
    // and the fan-out is real — the repartition pins the layout
    // CONTRACT for one extra exchange of fixed-width posting rows.
    postings(docs).withColumn("gen", lit(1L))
      .repartition(col("bucket"))
      .write.partitionBy("gen", "bucket").mode("overwrite").parquet(path)
    corpusTotals(docs).withColumn("gen", lit(1L))
      .write.partitionBy("gen").mode("overwrite").parquet(s"$path/_stats")
    // the build seals generation 1's doc_id range (round 18: every
    // windowed generation carries its watermark from birth, so appends
    // never pay the recordless fallback scan)
    GenerationManifest.commit(path, 1L, 1L,
      wms = Map(1L -> docIdRange(docs)))
  }

  /** `[min, max]` of a frame's doc_id — the build-time `W` record
    * ([[GenerationManifest.idRange]]). */
  private def docIdRange(docs: DataFrame): (Long, Long) =
    GenerationManifest.idRange(docs, "doc_id")

  /** The committed generation WINDOW `[lo, hi]` of a persisted index —
    * what every reader scopes its scan to. Appends extend `hi`;
    * [[compactIndex]] rewrites the window into one fresh generation
    * and moves `lo` up to it, which is how a compacted snapshot
    * atomically HIDES the generations it replaced (readers never
    * subtract — they just stop listing the old partitions). A
    * single-number manifest (the pre-compaction format) is read as
    * `[1, n]`. Absent manifest = the index was never fully built:
    * refuse loudly rather than serve torn state. */
  def generationWindow(path: String): (Long, Long) =
    GenerationManifest.window(path)

  /** The newest committed generation (the window's `hi`) — the
    * generation whose cumulative `_stats` row is current. */
  def currentGeneration(path: String): Long = generationWindow(path)._2

  /** The inverted/passage index's artifact roots: the `(gen, bucket)`
    * postings at the index root and the `_stats` totals. */
  private val IndexRoots = Seq("", "_stats")

  /** The bucketed posting rows of a corpus — ONE definition shared by
    * build and append so the spec-pinned append ≡ rebuild invariant
    * cannot drift. */
  private def postings(docs: DataFrame): DataFrame = {
    val tk = TextOps.toks(col("text"))
    // fan-out guard (opt round 20): the tokenize+explode feeding the
    // posting aggregate is the index build's narrow CPU.
    ScaleHints.fanOutIfTiny(docs)
      .select(col("doc_id"), size(tk).cast("long").as("dl"),
        explode(tk).as("token"))
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("token")), lit(IndexBuckets)))
  }

  /** The `_stats` artifact's fixed layout — count/sum(long) data
    * columns from [[corpusTotals]] plus the `gen` partition column,
    * typed BIGINT like every generation number in the manifest
    * protocol. Pinned so stats reads skip the footer-inference job
    * (opt round 21). */
  private val StatsSchema = "n BIGINT, sumdl BIGINT, gen BIGINT"

  /** One-row `(n, sumdl)` corpus totals — the `_stats` artifact. */
  private def corpusTotals(docs: DataFrame): DataFrame =
    docs
      .select(size(TextOps.toks(col("text"))).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))

  /** Append a delta corpus to a persisted inverted index (the
    * daily-crawl contract the ANN indexes got in round 11),
    * CRASH-ATOMICALLY: delta postings and the summed base+delta
    * stats both land under the NEXT generation `G+1` — invisible to
    * readers, who scope to the committed manifest — and only the
    * final atomic manifest rename makes them (jointly) visible. A
    * crash at ANY point leaves readers on the old generation with
    * postings and stats still mutually consistent; the retry purges
    * the orphaned `gen=G+1` debris first, so it cannot double-append.
    * df stays exact automatically because serving derives it from the
    * (gen-scoped) postings.
    *
    * IDEMPOTENT per doc_id since round 18 (the label/hybrid sealed-id
    * watermark discipline, generalized — this retires the old "caller
    * owns id-disjointness" contract): docs already sealed are dropped
    * from the delta through [[GenerationManifest.keptDelta]], so a
    * RETRIED daily append is a pruned no-op instead of silently
    * doubling tf/df for every replayed posting. Fresh monotone-id
    * batches pay one bounded range aggregate and no join; overlaps
    * anti-join against exactly the intersecting generations (a
    * recordless legacy generation falls back to its own column-pruned
    * scan — run [[backfillIndexWatermarks]] once to end that). An id
    * re-sent with DIFFERENT text is dropped like any replay: sealed
    * ids are immutable identities (the label-index rule). A fully
    * replayed delta does not seal a junk generation.
    *
    * Crash seams: `write:postings` (delta postings written, stats not)
    * and `flip:before` (next-generation stats written too) — both
    * states must be invisible to readers and repaired by the next
    * append's purge. */
  def appendInvertedIndex(docs: DataFrame, path: String): Unit =
    appendGeneric(docs, path, postings, corpusTotals)

  /** The generation-append protocol, shared by the document-level and
    * passage-level indexes (one crash-atomicity implementation, two
    * posting granularities): purge uncommitted debris, drop
    * already-sealed doc_ids, land kept postings and summed stats under
    * gen G+1, flip the manifest last with the kept range's `W` record.
    * `sealEmpty`: the hybrid's sparse leg must seal a generation even
    * for an empty kept delta (the cross-store lockstep invariant —
    * stats carried verbatim, EMPTY-sentinel watermark); standalone
    * appends return instead, so replays never grow the window. */
  private def appendGeneric(
      docs: DataFrame, path: String,
      postingsOf: DataFrame => DataFrame,
      totalsOf: DataFrame => DataFrame,
      sealEmpty: Boolean = false,
      preKept: Option[(Long, Long)] = None): Unit = {
    val spark = docs.sparkSession
    val st = GenerationManifest.state(path)
    val (lo, hi) = (st.lo, st.hi)
    // a crashed predecessor's orphans
    GenerationManifest.purgeOutside(path, IndexRoots, lo, hi)
    // preKept: the caller (the hybrid append) already pruned the delta
    // and passes the range to seal — re-running the prelude here would
    // only re-pay the range job and the anti-join scan
    val (kept, keptRange, release) = preKept match {
      case Some(r) => (docs, r, () => ())
      case None => GenerationManifest.keptDelta(
        st, docs, "doc_id",
        gens => spark.read.parquet(path)
          .filter(col("gen").isin(gens: _*)).select(col("doc_id")))
    }
    try {
      if (keptRange._1 > keptRange._2 && !sealEmpty) return
      val emptyKept = keptRange._1 > keptRange._2
      if (!emptyKept) {
        postingsOf(kept).withColumn("gen", lit(hi + 1))
          .repartition(col("bucket")) // one task per bucket dir (build rule)
          .write.partitionBy("gen", "bucket").mode("append").parquet(path)
      }
      GenerationManifest.wrote(path, "postings")
      val old = spark.read.schema(StatsSchema).parquet(s"$path/_stats")
        .filter(col("gen") === hi).select(col("n"), col("sumdl"))
        .collect().head
      import spark.implicits._
      val (dn, dsum) =
        if (emptyKept) (0L, 0L)
        else {
          val d = totalsOf(kept).collect().head
          // sum over zero rows is NULL — an empty kept frame under
          // sealEmpty carries the stats verbatim
          (d.getLong(0), if (d.isNullAt(1)) 0L else d.getLong(1))
        }
      Seq((old.getLong(0) + dn, old.getLong(1) + dsum))
        .toDF("n", "sumdl").withColumn("gen", lit(hi + 1))
        .write.partitionBy("gen").mode("append").parquet(s"$path/_stats")
      // fenced on the operation-start token (round 19): a writer that
      // flipped the manifest while the postings/stats were staged
      // refuses here instead of being silently absorbed
      GenerationManifest.amend(path, Some(st.seq))(s =>
        s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> keptRange)))
      ()
    } finally release()
  }

  /** One-shot watermark BACKFILL for a legacy (pre-r18) inverted or
    * passage index ([[GenerationManifest.backfillWatermarks]] over the
    * postings' sealed doc_ids): after it, appends prune the
    * idempotency check instead of paying a recordless generation's
    * fallback scan per append. Idempotent. */
  def backfillIndexWatermarks(spark: SparkSession, path: String): Unit =
    GenerationManifest.backfillWatermarks(path,
      spark.read.parquet(path).select(col("gen"), col("doc_id").as("id")))

  /** Compact a persisted (document- or passage-level) index: rewrite
    * every committed generation's postings into ONE fresh generation
    * and shrink the window to it — the maintenance op a daily-append
    * deployment runs so a year of crawls doesn't mean 365 parquet
    * files per bucket on every serving scan. Content-agnostic (rows
    * pass through unchanged, whatever the posting schema), so one
    * implementation serves both index families.
    *
    * Crash-atomic under the SAME manifest protocol as appends
    * ([[GenerationManifest.fold]]): the snapshot lands at `hi+1`
    * (invisible — readers scope to the committed window), the `hi`
    * stats row is carried over verbatim (compaction changes layout,
    * never totals), and the atomic manifest flip to `[hi+1, hi+1]`
    * simultaneously reveals the snapshot and hides the generations it
    * replaced. A crash before the flip (`write:postings` — snapshot
    * postings written, stats not — or `flip:before`) leaves the old
    * window serving, with the half-written snapshot purged as
    * over-window debris by the next op. The replaced generations stay
    * on disk, invisible, for in-flight readers until an explicit
    * [[gcIndex]]. Serving results are bit-identical across the flip:
    * same rows, new layout. Returns whether it folded.
    *
    * Cost: one window-scoped scan + one shuffle on the int bucket key
    * (so each bucket directory is written by one task, not
    * `shuffle.partitions` fragments) — no re-tokenization, no corpus
    * read, no aggregate. */
  def compactIndex(spark: SparkSession, path: String): Boolean =
    GenerationManifest.fold(path, IndexRoots) { st =>
      val (lo, hi) = (st.lo, st.hi)
      spark.read.parquet(path)
        .filter(col("gen").between(lo, hi)).drop("gen")
        .withColumn("gen", lit(hi + 1))
        .repartition(col("bucket"))
        .write.partitionBy("gen", "bucket").mode("append").parquet(path)
      GenerationManifest.wrote(path, "postings")
      spark.read.schema(StatsSchema).parquet(s"$path/_stats")
        .filter(col("gen") === hi).drop("gen")
        .withColumn("gen", lit(hi + 1))
        .write.partitionBy("gen").mode("append").parquet(s"$path/_stats")
    }

  /** [[compactIndex]]'s window-growth rule as code — the round-17
    * `compactIfPast` threshold family applied to the inverted and
    * passage indexes (both share `compactIndex`): compact when the
    * committed window spans more than `maxGens` generations. A
    * daily-append deployment calls this at its maintenance cadence.
    * Returns whether it compacted. */
  def maybeCompactIndex(
      spark: SparkSession, path: String, maxGens: Long): Boolean =
    GenerationManifest.compactIfPast(path, maxGens)(
      compactIndex(spark, path))

  /** Reclaim replaced inverted/passage-index generations below the
    * retention horizon ([[GenerationManifest.gc]] — the only operation
    * that deletes committed history; mutations retain it for in-flight
    * readers). Run at the same cadence as [[maybeCompactIndex]].
    * Returns the committed retention floor. */
  def gcIndex(
      path: String,
      retainGens: Long = GenerationManifest.DefaultRetainGens): Long =
    GenerationManifest.gc(path, IndexRoots, retainGens)

  /** Serve BM25 from the persisted index: prune the postings scan to
    * the query terms' buckets (the `pmod(xxhash64(lit))` predicates
    * constant-fold to partition filters), reassemble the per-doc tf
    * columns with one candidate-sized conditional aggregate, derive
    * per-term df from the same pruned postings, and score through the
    * SHARED [[scoreAndRank]] — row-identical to q76 with the same
    * corpus (tf from the (token, doc) count equals the in-scan
    * `size(filter(...))`; dl was stored from the same tokenizer).
    *
    * What changed vs q76 is what gets READ: ~|terms| buckets of
    * fixed-width postings instead of the corpus text — the sparse
    * sibling of q61's "1-byte codes, no float column" claim. The
    * window is resolved and the postings tree listed (and its schema
    * inferred) ONCE per serve: one pruned frame feeds both the
    * candidate reassembly and the df derivation ([[servingInputs]]).
    * Those two aggregates are still separate passes, so the pruned
    * buckets are scanned twice — both reads are bounded by the query
    * terms' posting volume, never the index, so the second scan is
    * noise next to the corpus scan it replaces; a serving deployment
    * pins the pruned buckets in memory anyway.
    *
    * `asOfGen` (default: the head) is the protocol-level TIME-TRAVEL
    * read ([[GenerationManifest.windowAt]]): postings truncate to the
    * historical window and the cumulative `_stats` row is read AT
    * that generation, so the serve replays bit for bit what a reader
    * saw when `asOfGen` was the committed head — `labelsServeAt`'s
    * reproducibility contract generalized to retrieval (round 15).
    */
  def bm25SearchIndex(
      spark: SparkSession, path: String,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    val (pruned, stats) = servingInputs(spark, path, asOfGen)
    scoreAndRank(tfColumns(pruned, Seq(col("doc_id"), col("dl"))), stats)
  }

  /** The per-unit tf columns reassembled from pruned postings: one
    * conditional sum per query term, grouped by `keys` (a doc, or a
    * doc's chunk). */
  private def tfColumns(pruned: DataFrame, keys: Seq[Column]): DataFrame =
    pruned.groupBy(keys: _*)
      .agg(
        sum(when(col("token") === AllTerms.head, col("tf")).otherwise(0L))
          .as(s"tf_${AllTerms.head}"),
        AllTerms.tail.map(t =>
          sum(when(col("token") === t, col("tf")).otherwise(0L))
            .as(s"tf_$t")): _*)

  /** The serving inputs of a persisted (document- or passage-level)
    * index, from ONE window resolution and ONE postings read: the
    * query terms' postings, partition-pruned to their buckets and
    * scoped to the committed generation window (`gen BETWEEN lo AND
    * hi` — also partition filters, so an in-flight append's
    * uncommitted files AND a committed compaction's replaced
    * generations are never even listed into the scan), and the
    * one-row stats ([[indexStats]]) built over that same frame. */
  private def servingInputs(
      spark: SparkSession, path: String,
      asOfGen: Long): (DataFrame, DataFrame) = {
    val bucketPred = AllTerms
      .map(t => col("bucket") === pmod(xxhash64(lit(t)), lit(IndexBuckets)))
      .reduce(_ || _)
    // truncated at the as-of point: generations after it are never
    // even listed into the scan (time travel is one partition filter)
    val (lo, g) = GenerationManifest.windowAt(path, asOfGen)
    val pruned = spark.read.parquet(path)
      .filter(col("gen").between(lo, g) &&
        bucketPred && col("token").isin(AllTerms: _*))
    val dfRow = pruned.agg(
      sum((col("token") === AllTerms.head).cast("long"))
        .as(s"df_${AllTerms.head}"),
      AllTerms.tail.map(t =>
        sum((col("token") === t).cast("long")).as(s"df_$t")): _*)
      // absent terms aggregate to NULL on an empty slice; df 0 is the
      // correct value and keeps the idf finite
      .na.fill(0L)
    // stats are cumulative totals — exactly the AS-OF generation's row
    // is current (older rows are the pre-append history, newer ones
    // the post-as-of future)
    val stats = spark.read.schema(StatsSchema).parquet(s"$path/_stats")
      .filter(col("gen") === g)
      .drop("gen")
      .crossJoin(broadcast(dfRow))
    (pruned, stats)
  }

  /** One-row serving stats from a persisted index: stored corpus
    * totals × per-term df derived from the pruned postings — the
    * frozen-statistics relation both the batch serving path and the
    * streaming standing-query scorer read. */
  private[graft] def indexStats(
      spark: SparkSession, path: String,
      asOfGen: Long = Long.MaxValue): DataFrame =
    servingInputs(spark, path, asOfGen)._2

  /** q76's search served from the on-disk inverted index (the
    * q61-for-q54 pattern): build into a scratch dir, serve pruned.
    * Oracle-identical to q76 by construction. Rebuilt per call at
    * fixture scale; a deployment builds once and serves many. */
  def q77Bm25Indexed(spark: SparkSession, dir: String): DataFrame = {
    val path = SimilarityOps.tempIndexDir("graft-inverted-index")
    writeInvertedIndex(Tables.documents(spark, dir), path)
    bm25SearchIndex(spark, path)
  }

  /** q77's oracle IS q76's (row-identical serving path). */
  def q77OracleSql(): String = q76OracleSql()

  // ------------------------------------------------------------- q78

  /** Dense probe ids for the hybrid query set: query q's dense twin is
    * embedding `vec_id = q` (the fixture's doc_id↔vec_id alignment,
    * q45's convention). */
  val DenseProbeIds: Seq[Int] = BmQueries.map(_._1)

  /** q78 — hybrid retrieval by reciprocal-rank fusion: the sparse leg
    * (q76's BM25 top-k) and the exact dense leg (q12's rounded-cosine
    * metric, one probe per query) fuse as
    * `rrf_micro = Σ_legs ⌊10⁶/(60 + rank)⌋` — INTEGER rank arithmetic
    * (div, not /), so fusion is exact on both engines and the only
    * float work lives inside the two already-disciplined legs.
    * A doc absent from one leg contributes 0 for it (full-outer
    * semantics, computed as a union and max — see [[fuseRrf]]; rank 0
    * encodes "not retrieved" in the output).
    *
    * Scale shape: both legs end at per-query top-k relations (≤ k·|Q|
    * fixed-width rows), so the fusion and the final re-rank are
    * one-partition work no matter the corpus size — all the scale
    * lives in the legs, which is the point of RRF (Cormack et al.
    * 2009: fuse RANKS, not scores, so legs stay independently
    * tunable). The dense leg broadcasts its bounded probe set and ends
    * in the per-probe top-k exchange (q12's shape); the final
    * per-query re-rank runs in [[fuseRrf]]'s one partition.
    */
  /** The dense leg: q12's rounded-cosine metric per probe, ranked —
    * `(qid, doc_id, d_rank)` with d_rank ≤ [[TopK]]. Shared with the
    * spec's driver-side fusion recomputation. `prefixDims` restricts
    * the cosine to the embedding's first n dimensions (q106's
    * matryoshka slice — [[q127DriftMatrix]]'s deterministic
    * retrained-leg stand-in); None is the full-dimension default. */
  private[graft] def denseRanks(
      spark: SparkSession, dir: String,
      prefixDims: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val probes = emb
      .filter($"vec_id".isInCollection(DenseProbeIds.map(_.toLong)))
      .select($"vec_id".cast("int").as("p_qid"), $"embedding".as("probe"))
    val byProbe = Window.partitionBy($"p_qid")
      .orderBy($"sim".desc, $"vec_id")
    def leg(c: Column): Column =
      prefixDims.map(n => slice(c, 1, n)).getOrElse(c)
    emb.crossJoin(broadcast(probes))
      .withColumn("sim",
        round(PipelineOps.cosine(leg($"embedding"), leg($"probe")), 6))
      .withColumn("rank", row_number().over(byProbe))
      .filter($"rank" <= TopK)
      .select($"p_qid".as("qid"), $"vec_id".as("doc_id"), $"rank".as("d_rank"))
  }

  /** The RRF fusion core — ONE definition shared by q78 (exact dense
    * leg), q83 (indexed dense leg), the hybrid store's serve (q120,
    * q122, q126) and q127's drift matrix, so the hybrids cannot drift
    * in their rank arithmetic: union the legs' top-k relations, take
    * each (qid, doc_id)'s per-leg rank, integer `div` reciprocal
    * ranks, per-query re-rank. `sparse` carries (qid, doc_id, s_rank);
    * `dense` (qid, doc_id, d_rank).
    *
    * The union `(qid, doc_id, s_rank, 0) ∪ (qid, doc_id, 0, d_rank)`
    * grouped by (qid, doc_id) with `max` over both ranks IS the full
    * outer join of the legs with absent ranks coalesced to 0: each
    * leg holds at most one row per (qid, doc_id) (a per-query top-k
    * by row_number), and every real rank is ≥ 1 > 0, so the max picks
    * the leg's rank where it retrieved the doc and 0 where it did not.
    * Both inputs are ≤ k·|Q| fixed-width rows, so the fused rows
    * (≤ 2·k·|Q|) coalesce into ONE partition and the aggregate, the
    * re-rank window and the contract sort all run in that one task
    * with no exchange — no sort-merge join, no window or range
    * shuffle, no sampling job — whatever the corpus size. */
  private[graft] def fuseRrf(sparse: DataFrame, dense: DataFrame): DataFrame = {
    val byQuery = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    sparse.select(col("qid"), col("doc_id"), col("s_rank"), lit(0).as("d_rank"))
      .unionByName(dense.select(col("qid"), col("doc_id"),
        lit(0).as("s_rank"), col("d_rank")))
      .coalesce(1)
      .groupBy(col("qid"), col("doc_id"))
      .agg(max(col("s_rank")).as("s_rank"), max(col("d_rank")).as("d_rank"))
      .withColumn("rrf_micro",
        expr(s"CASE WHEN s_rank > 0 THEN 1000000 div ($RrfK + s_rank) ELSE 0 END" +
          s" + CASE WHEN d_rank > 0 THEN 1000000 div ($RrfK + d_rank) ELSE 0 END"))
      .withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= TopK)
      .select(col("qid"), col("rank"), col("doc_id"), col("rrf_micro"),
        col("s_rank"), col("d_rank"))
      .orderBy(col("qid"), col("rank"))
  }

  def q78HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sparse = q76Bm25TopK(spark, dir)
      .select($"qid", $"doc_id", $"rank".as("s_rank"))
    fuseRrf(sparse, denseRanks(spark, dir))
  }

  /** q78's oracle: q76's CTE stack as the sparse leg, q12's cosine
    * arithmetic (verbatim `list_dot_product` expression) per probe as
    * the dense leg, integer `//` fusion. */
  def q78OracleSql(): String = {
    val probeIds = DenseProbeIds.mkString(", ")
    s"""|WITH sparse AS (
        |  SELECT qid, doc_id, rank AS s_rank FROM (
        |${q76OracleSql().linesIterator.map("    " + _).mkString("\n")}
        |  )
        |), p AS (
        |  SELECT vec_id::INT AS p_qid, embedding::DOUBLE[] AS pe
        |  FROM embeddings WHERE vec_id IN ($probeIds)
        |), ds AS (
        |  SELECT p_qid, vec_id,
        |         round(list_dot_product(embedding::DOUBLE[], pe) /
        |               (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
        |                sqrt(list_dot_product(pe, pe))), 6) AS sim
        |  FROM embeddings, p
        |), dr AS (
        |  SELECT p_qid AS qid, vec_id AS doc_id,
        |         row_number() OVER (PARTITION BY p_qid ORDER BY sim DESC, vec_id) AS d_rank
        |  FROM ds
        |), dense AS (
        |  SELECT qid, doc_id, d_rank FROM dr WHERE d_rank <= $TopK
        |), $rrfTailSql""".stripMargin
  }

  /** The fusion tail every hybrid oracle shares (expects CTEs `sparse
    * (qid, doc_id, s_rank)` and `dense (qid, doc_id, d_rank)` in
    * scope) — the SQL twin of [[fuseRrf]], factored for the same
    * reason: one rank-arithmetic definition across q78/q83 and both
    * engines. */
  private def rrfTailSql: String =
    s"""|fused AS (
        |  SELECT coalesce(s.qid, d.qid) AS qid,
        |         coalesce(s.doc_id, d.doc_id) AS doc_id,
        |         coalesce(s.s_rank, 0) AS s_rank,
        |         coalesce(d.d_rank, 0) AS d_rank
        |  FROM sparse s FULL OUTER JOIN dense d
        |    ON s.qid = d.qid AND s.doc_id = d.doc_id
        |), scored AS (
        |  SELECT qid, doc_id, s_rank, d_rank,
        |         (CASE WHEN s_rank > 0 THEN 1000000 // ($RrfK + s_rank) ELSE 0 END
        |          + CASE WHEN d_rank > 0 THEN 1000000 // ($RrfK + d_rank) ELSE 0 END) AS rrf_micro,
        |         row_number() OVER (PARTITION BY qid ORDER BY
        |           (CASE WHEN s_rank > 0 THEN 1000000 // ($RrfK + s_rank) ELSE 0 END
        |            + CASE WHEN d_rank > 0 THEN 1000000 // ($RrfK + d_rank) ELSE 0 END) DESC,
        |           doc_id) AS rank
        |  FROM fused
        |)
        |SELECT qid, rank, doc_id, rrf_micro, s_rank, d_rank FROM scored
        |WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin

  // ------------------------------------------------------------- q83

  /** q83 — q78's hybrid fusion with the dense leg SERVED FROM THE
    * PERSISTED IVF-PQ INDEX instead of q12's exact corpus-wide scan:
    * the production shape, where BOTH legs read indexes (sparse from
    * the q77 inverted index's contract, dense from
    * [[SimilarityOps.ivfPqServe]]'s two-stage
    * shortlist-then-exact-rerank) and no query ever scans corpus text
    * or float vectors end to end. The fusion core is [[fuseRrf]],
    * shared with q78 — RRF fuses RANKS, so swapping a leg's retrieval
    * engine is exactly the modularity the operator exists for; where
    * ANN recall < 1 the fused ranking legitimately differs from
    * q78's (the spec reports the rank agreement).
    *
    * Correctness chain: the index is built with the FIXED q67
    * constants (non-residual), for which [[SimilarityOps.ivfPqServe]]
    * is spec-pinned row-identical to [[SimilarityOps.q70RerankTopK]]
    * — so the dense leg has q70's DuckDB oracle (with the probe
    * predicate swapped to [[DenseProbeIds]]) and the WHOLE hybrid is
    * hash-verified end to end, unlike a trained index (q84's
    * territory). Rebuilt per call at fixture scale; a deployment
    * builds once per compact generation and serves many. */
  def q83HybridIndexed(spark: SparkSession, dir: String): DataFrame = {
    val path = SimilarityOps.tempIndexDir("graft-hybrid-ivfpq")
    q83BuildIndex(spark, dir, path)
    q83ServeHybrid(spark, dir, path)
  }

  /** Build half of [[q83HybridIndexed]]: persist the fixed-constant
    * non-residual IVF-PQ index the dense leg serves from. Split out so
    * the bench can pay it once per run (`phases`) instead of once per
    * timed sample — a deployment builds once per compact generation. */
  def q83BuildIndex(spark: SparkSession, dir: String, path: String): Unit =
    buildFixedIvfPq(Tables.embeddings(spark, dir), path)

  /** q83's fixed-constant non-residual dense-leg build over an
    * explicit frame — ONE definition shared with the hybrid store's
    * dense leg ([[writeHybridIndex]]), so the q120 ≡ q83 oracle
    * equality is structural, not coincidental. */
  private def buildFixedIvfPq(emb: DataFrame, path: String): Unit = {
    val centroids = (0 until SimilarityOps.NumCells).map(c =>
      (0 until SimilarityOps.Dim).map(SimilarityOps.centroidComponent(c, _)))
    SimilarityOps.writeIvfPqIndex(
      emb, path, centroids, SimilarityOps.defaultPqCodebooks, residual = false)
  }

  /** The hybrid query set's dense probe vectors ([[DenseProbeIds]]) —
    * the bounded collect shared by [[q83ServeHybrid]] and
    * [[hybridServeAt]]. */
  private def denseProbes(emb: DataFrame): Seq[(Long, Seq[Double])] =
    emb.filter(col("vec_id").isInCollection(DenseProbeIds.map(_.toLong)))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq

  /** The dense leg served from a persisted IVF-PQ index, shaped for
    * [[fuseRrf]] — shared by q83 and the hybrid store. */
  private def denseLegServed(
      spark: SparkSession, path: String, emb: DataFrame,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    SimilarityOps.ivfPqServe(
      spark, path, emb, denseProbes(emb), k = TopK, asOfGen = asOfGen)
      .select($"probe_id".cast("int").as("qid"),
        $"vec_id".as("doc_id"), $"rank".as("d_rank"))
  }

  /** Serve half of [[q83HybridIndexed]] against an already-built dense
    * index: sparse BM25 leg + index-served dense leg, fused by RRF. */
  def q83ServeHybrid(
      spark: SparkSession, dir: String, path: String): DataFrame = {
    import spark.implicits._
    val dense = denseLegServed(spark, path, Tables.embeddings(spark, dir))
    val sparse = q76Bm25TopK(spark, dir)
      .select($"qid", $"doc_id", $"rank".as("s_rank"))
    fuseRrf(sparse, dense)
  }

  /** q83's oracle: q76's CTE stack as the sparse leg, q70's oracle —
    * shortlist-by-ADC then exact-cosine rerank, the same constants the
    * persisted index serves — as the dense leg (probe predicate
    * swapped to the [[DenseProbeIds]] set), and the shared fusion
    * tail. */
  def q83OracleSql(): String = {
    val denseStage = SimilarityOps.q70OracleSql(
      k = TopK,
      probePred = Some(s"vec_id IN (${DenseProbeIds.mkString(", ")})"))
    s"""|WITH sparse AS (
        |  SELECT qid, doc_id, rank AS s_rank FROM (
        |${q76OracleSql().linesIterator.map("    " + _).mkString("\n")}
        |  )
        |), dense AS (
        |  SELECT probe_id::INT AS qid, vec_id AS doc_id, rank AS d_rank FROM (
        |${denseStage.linesIterator.map("    " + _).mkString("\n")}
        |  )
        |), $rrfTailSql""".stripMargin
  }

  // ------------------------------- hybrid cross-store manifest (q120)

  /** The composed hybrid's CROSS-STORE seal — round 16 closes the r15
    * gap "q83 has no joint as-of" (both legs were individually
    * time-travelable but their generations uncorrelated, so "what did
    * the hybrid return at generation g" was ill-defined). Layout:
    *
    *   - `path/sparse` — the inverted index ([[writeInvertedIndex]]'s
    *     artifacts, own leg manifest);
    *   - `path/dense`  — the fixed-constant IVF-PQ index (q83's
    *     correctness chain, own leg manifest);
    *   - `path/_GENERATION` — the HYBRID window. Invariant: every
    *     hybrid mutation appends exactly ONE generation to EACH leg,
    *     so hybrid generation h ≡ the correlated pair (sparse gen h,
    *     dense gen h).
    *
    * Cross-store atomicity WITHOUT a cross-store rename (two files
    * cannot flip together): the hybrid manifest commits LAST, and
    * [[hybridServeAt]] reads BOTH legs as-of the hybrid head — a crash
    * between leg commits leaves one leg's head above the hybrid
    * window, which no hybrid serve ever reads (the legs' as-of
    * truncation IS the isolation). Crash recovery is two rules:
    *
    *   - PRE-flip crash (a leg committed, the hybrid manifest did
    *     not): the retry inspects leg windows — a leg already at
    *     `(hybridLo, hybridHi+1)` absorbed its delta and is skipped,
    *     the other catches up, the hybrid flip publishes the pair. A
    *     leg window in ANY other off-sync state is an out-of-band
    *     mutation (someone compacted or appended a leg directly) and
    *     the append REFUSES loudly — skipping would silently lose the
    *     delta in that leg forever. Legs are mutated only through the
    *     hybrid ops.
    *   - POST-flip crash (the hybrid flip committed, the source
    *     checkpoint did not — foreachBatch's at-least-once window):
    *     the hybrid manifest carries the label index's SEALED-ID
    *     WATERMARK per generation (combined doc/vec id range), so the
    *     redelivered batch prunes to the generations its range
    *     overlaps, anti-joins against exactly those, and a full
    *     replay degrades to a NO-OP instead of double-writing posting
    *     rows (which would double tf and df) and vectors. */
  def writeHybridIndex(
      docs: DataFrame, emb: DataFrame, path: String): Unit = {
    writeInvertedIndex(docs, s"$path/sparse")
    buildFixedIvfPq(emb, s"$path/dense")
    writeHybridFloats(emb, path, 1L)
    GenerationManifest.commit(path, 1L, 1L,
      Map(1L -> combinedRange(docs, "doc_id", emb, "vec_id")))
  }

  /** The rerank FLOAT sidecar, versioned per hybrid generation
    * (round 17 — closes r16's "the rerank vectors are unversioned"
    * external invariant): `path/_floats/gen=N` carries exactly the
    * float rows this generation sealed, so [[hybridServeAt]]'s
    * rerank (and its probe vectors) read as-of the hybrid window and
    * the joint seal is SELF-CONTAINED — no caller corpus, no
    * floats-immutable-per-id assumption. Explicit gen-dir write (the
    * label-index convention) so an empty delta still leaves a schema
    * footer; governed by the hybrid manifest like the legs. */
  private def writeHybridFloats(
      emb: DataFrame, path: String, gen: Long): Unit =
    emb.select(col("vec_id"), col("label"), col("embedding"))
      .write.mode("overwrite").parquet(s"$path/_floats/gen=$gen")

  /** `[min, max]` over BOTH legs' id columns — the hybrid generation's
    * sealed-id watermark (inverted sentinel when both frames are
    * empty, like the label index's). ONE action over the union (round
    * 18 — the r17 nit: two per-frame aggregates fired four tiny jobs
    * per append on top of the maintenance stream's ~5 s batch floor;
    * the union scans the same rows in half the job count, and min/max
    * over the union equal min-of-mins/max-of-maxes exactly). */
  private def combinedRange(
      docs: DataFrame, docId: String,
      emb: DataFrame, vecId: String): (Long, Long) = {
    val row = docs.select(col(docId).cast("long").as("id"))
      .unionByName(emb.select(col(vecId).cast("long").as("id")))
      .agg(min(col("id")), max(col("id"))).head()
    if (row.isNullAt(0)) (Long.MaxValue, Long.MinValue)
    else (row.getLong(0), row.getLong(1))
  }

  /** Append the correlated (docs, embeddings) delta to BOTH legs and
    * flip the hybrid window once both are level — see
    * [[writeHybridIndex]] for the crash/repair contract. Idempotent
    * per id (the watermark scheme), so at-least-once redelivery after
    * a committed flip is a no-op.
    *
    * Crash repair is POSITIVELY identified since round 18: the append
    * commits a PENDING-APPEND INTENT (`P A hi+1`,
    * [[GenerationManifest.State.pending]]) into the hybrid manifest
    * BEFORE touching any leg, cleared by the publishing flip — so a
    * leg found one generation ahead is a crashed attempt's half-done
    * work iff the intent exists. Without it the same window shape is
    * an OUT-OF-BAND mutation and the append refuses loudly: the r17
    * guard accepted `(lo, hi+1)` unconditionally, which a direct
    * `retrainIvfPq` on the dense leg spoofs exactly — the next append
    * would then silently SKIP the dense leg, sealing the delta's
    * vec_ids in the watermark and floats while never indexing them
    * (silent loss dressed as crash repair). A drifted dense leg
    * retrains through [[retrainHybridDense]], which keeps the legs
    * correlated.
    *
    * Crash seams: the intent amend's `flip:after:<path>`, the sparse
    * leg's `flip:after:<path>/sparse`, the dense leg's
    * `flip:after:<path>/dense`, and (float sidecar written) the
    * publishing `flip:before:<path>` — every such state must be
    * invisible to serves and rolled forward by the retry. */
  def appendHybridIndex(
      docs: DataFrame, emb: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    // fence token of the state this append is predicated on — threaded
    // through every hybrid-manifest flip below, so a concurrent writer
    // (an out-of-band compaction/retrain racing a maintenance stream)
    // anywhere across the leg writes trips a loud refusal instead of a
    // silent lost update (round 19, the r18 verdict's top ask)
    var fence = st0.seq
    // a half-done RETRAIN has its own roll-forward; appending through
    // it would interleave two multi-leg mutations
    require(!st0.pending.exists(_._1 == "R"),
      s"a dense-leg retrain is in flight at $path (pending intent " +
        s"${st0.pending.get}) — run retrainHybridDense to roll it " +
        "forward, then append")
    val pendingAppend = st0.pending.contains(("A", hi + 1))
    // a crashed append's float debris sits above the window — purge at
    // the start of the retry (the protocol's standard leading purge)
    GenerationManifest.purgeOutside(path, Seq("_floats"), lo, hi)
    // post-flip-replay idempotency: prune the sealed-id check to the
    // generations the delta's range overlaps (fresh monotone batches
    // scan NOTHING; a replay scans only the generation it wrote)
    val wms = st0.wms
    val (dMin, dMax) = combinedRange(docs, "doc_id", emb, "vec_id")
    val scanGens =
      if (dMin > dMax) Seq.empty
      else GenerationManifest.gensNeedingScan(wms, lo, hi, dMin, dMax)
    // persist the anti-joined frames: one sealed-generation scan per
    // leg feeds the sealed-range aggregate AND both leg appends (a
    // lazy frame would re-pay the scan for each consumer)
    val (keptDocs, keptEmb, release) =
      if (scanGens.isEmpty) (docs, emb, () => ())
      else {
        val kd = docs.join(spark.read.parquet(s"$path/sparse")
          .filter(col("gen").isin(scanGens: _*)).select(col("doc_id")),
          Seq("doc_id"), "left_anti").persist()
        val ke = emb.join(spark.read.parquet(s"$path/dense")
          .filter(col("gen").isin(scanGens: _*)).select(col("vec_id")),
          Seq("vec_id"), "left_anti").persist()
        (kd, ke, () => { kd.unpersist(); ke.unpersist(); () })
      }
    try {
      // record only what this generation actually SEALS (the label
      // index's discipline): a partial replay's watermark covers the
      // surviving rows, not the raw delta, so future deltas never
      // over-scan a generation for ids it dropped. With no overlap the
      // kept frames ARE the delta and this equals (dMin, dMax).
      val keptRange =
        if (scanGens.isEmpty) (dMin, dMax)
        else combinedRange(keptDocs, "doc_id", keptEmb, "vec_id")
      // pre-flip-crash repair vs out-of-band mutation, POSITIVELY
      // identified: a leg at (lo, hi+1) absorbed its delta in a
      // crashed attempt IFF the pending-append intent exists — the
      // same window shape WITHOUT the intent is someone else's
      // mutation (a direct leg append, or a direct retrainIvfPq whose
      // epoch snapshot lands at exactly (lo, hi+1)) and skipping
      // "past" it would silently lose the delta in that leg forever
      def legState(name: String): Boolean = {
        val w = GenerationManifest.window(s"$path/$name")
        if (w == ((lo, hi))) false
        else if (w == ((lo, hi + 1)) && pendingAppend) true
        else {
          val why =
            if (w == ((lo, hi + 1)))
              "is one generation ahead with NO pending-append intent " +
                "in the hybrid manifest — an out-of-band mutation (a " +
                "direct leg append, or a direct retrain: a drifted " +
                "dense leg rolls through retrainHybridDense, which " +
                "keeps the legs correlated)"
            else "is out of sync with the hybrid window"
          throw new IllegalArgumentException(
            s"requirement failed: hybrid leg '$name' window $w $why " +
              s"[$lo, $hi] at $path — legs must only be mutated through " +
              "the hybrid ops (a direct append, retrain or compaction " +
              "would silently decorrelate the generations)")
        }
      }
      // inspect BOTH legs before mutating either — a refusal must land
      // before any work (including for an empty delta, which is how
      // the specs probe the guard), and under one intent record
      val sparseDone = legState("sparse")
      val denseDone = legState("dense")
      // NOTHING to seal — an empty delta or a fully-replayed batch
      // never grows the window (the sibling appends' rule; pre-r18
      // this path sealed a junk generation per empty call). A VACUOUS
      // intent (crash right after the intent commit, no leg touched)
      // is cleared here rather than left dangling: an empty or
      // fully-replayed redelivery cannot reach the flip that would
      // clear it, and retrainHybridDense refuses on ANY 'A' intent —
      // pre-r19 that wedged the retrain behind a batch that may no
      // longer exist (ADVICE r18)
      if (keptRange._1 > keptRange._2) {
        if (pendingAppend && !sparseDone && !denseDone)
          GenerationManifest.amend(path, Some(fence))(s =>
            s.copy(pending = None))
        return
      }
      // commit the intent BEFORE the first leg mutation (cleared by
      // the flip): this is what makes the one-ahead state unspoofable
      if (!pendingAppend)
        fence = GenerationManifest.amend(path, Some(fence))(s =>
          s.copy(pending = Some(("A", hi + 1)))).seq
      // the AsLeg forms seal a generation even for a one-sided empty
      // kept frame (the lockstep invariant over correlated deltas) and
      // SKIP their own idempotency prelude — the joint prune above
      // already dropped every sealed id, and legState already resolved
      // crash repair, so a leg-level re-check would only re-pay the
      // range jobs (the ProfR18 nit) and re-scan the dense epoch
      // snapshot. The joint kept range rides along as the leg's
      // (conservative, superset) W record.
      if (!sparseDone)
        appendInvertedIndexAsLeg(keptDocs, s"$path/sparse", keptRange)
      if (!denseDone)
        SimilarityOps.appendIvfPqIndexAsLeg(keptEmb, s"$path/dense",
          keptRange)
      // version the generation's rerank floats with it (overwrite of
      // the explicit gen dir = idempotent under pre-flip retries)
      writeHybridFloats(keptEmb, path, hi + 1)
      GenerationManifest.amend(path, Some(fence))(s =>
        s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> keptRange),
          pending = None))
      ()
    } finally release()
  }

  /** One-shot watermark BACKFILL for a pre-r16 hybrid store
    * ([[GenerationManifest.backfillWatermarks]] over the UNION of both
    * legs' sealed ids — the combined range [[appendHybridIndex]]
    * records natively): after it, replays prune instead of paying the
    * two-leg fallback scan per append. Idempotent. */
  def backfillHybridWatermarks(spark: SparkSession, path: String): Unit =
    GenerationManifest.backfillWatermarks(path,
      spark.read.parquet(s"$path/sparse")
        .select(col("gen"), col("doc_id").as("id"))
        .unionByName(spark.read.parquet(s"$path/dense")
          .select(col("gen"), col("vec_id").as("id"))))

  /** One-shot FLOAT-sidecar backfill for a pre-r17 hybrid store —
    * the upgrade path [[hybridServeAt]]'s coverage guard names rebuild
    * for, made cheaper when the caller still holds the corpus the old
    * store leaned on: `emb` DECLARES the historical float truth
    * (exactly the external floats-immutable-per-id invariant the
    * pre-r17 serve assumed), and each uncovered committed generation
    * gets `_floats/gen=N` sealed with the floats of exactly the
    * vec_ids its dense leg sealed. REFUSES loudly if `emb` does not
    * cover every sealed vec_id of an uncovered generation — PQ codes
    * cannot reconstruct missing floats, and a silent partial sidecar
    * would quietly shrink the served rerank (the failure mode the
    * coverage guard exists to stop). Idempotent: covered generations
    * are skipped; a crash mid-backfill leaves debris only in gen dirs
    * the retry overwrites (no manifest write — the sidecar is data,
    * the window is unchanged). One dense-leg scan and one broadcast-or
    * shuffle join per missing generation, all delta-bounded. */
  def backfillHybridFloats(emb: DataFrame, path: String): Unit = {
    val spark = emb.sparkSession
    val (lo, hi) = GenerationManifest.window(path)
    val covered = floatGens(spark, path)
    (lo to hi).filterNot(covered).foreach { g =>
      // persist both frames: each feeds two consumers (the coverage
      // stats and the join/write) — a lazy frame would re-pay the
      // dense-leg scan and the corpus join per consumer (the
      // appendHybridIndex discipline)
      val sealedIds = spark.read.parquet(s"$path/dense")
        .filter(col("gen") === g).select(col("vec_id")).distinct().persist()
      val sealedEmb = emb.join(sealedIds, Seq("vec_id")).persist()
      try {
        // ONE stats pass proves both invariants: distinct coverage
        // (every sealed vec_id has a float row — a raw row-count
        // compare would let duplicate rows mask missing ids) and
        // unambiguity (no vec_id arrives with more than one row — the
        // historical truth must be unique to be a truth)
        val s = sealedEmb
          .agg(count(lit(1)).as("have"),
            count_distinct(col("vec_id")).as("dhave"))
          .crossJoin(broadcast(sealedIds.agg(count(lit(1)).as("need"))))
          .head()
        val (have, dhave, need) = (s.getLong(0), s.getLong(1), s.getLong(2))
        require(dhave == need,
          s"backfill corpus covers $dhave of $need vec_ids sealed by " +
            s"generation $g at $path — PQ codes cannot reconstruct the " +
            "missing floats; supply the full historical corpus or " +
            "REBUILD the store")
        require(have == dhave,
          s"backfill corpus carries duplicate rows for ${have - dhave} " +
            s"sealed vec_id(s) of generation $g at $path — the float " +
            "truth must be unique per id; dedup the corpus first")
        writeHybridFloats(sealedEmb, path, g)
      } finally { sealedIds.unpersist(); sealedEmb.unpersist(); () }
    }
  }

  /** The generations the `_floats` sidecar covers (one dir listing) —
    * the coverage ground truth shared by [[hybridServeAt]]'s guard,
    * [[backfillHybridFloats]]'s skip set, and [[compactHybridIndex]]'s
    * pre-fold check. */
  private def floatGens(spark: SparkSession, path: String): Set[Long] = {
    val fRoot = new org.apache.hadoop.fs.Path(s"$path/_floats")
    val fs = fRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(fRoot)) Set.empty
    else fs.listStatus(fRoot).map(_.getPath.getName)
      .filter(_.startsWith("gen="))
      .map(_.stripPrefix("gen=").toLong).toSet
  }

  /** Compact the hybrid store JOINTLY — the one mutation the
    * out-of-band guard forbids doing per leg (a direct leg compaction
    * would decorrelate the generations, which is exactly why
    * [[appendHybridIndex]] refuses it): both legs fold their committed
    * window into one fresh generation, the float sidecar folds with
    * them, and the hybrid manifest flips LAST to `(hi+1, hi+1)` with
    * the folded generation's recomputed sealed-id range. Without this
    * the window grows one generation per append forever — a
    * [[graft.streaming.HybridIndexStream]] deployment seals one per
    * micro-batch, so compaction is its required maintenance cadence
    * ([[maybeCompactHybridIndex]] is the threshold form).
    *
    * CRASH CONTRACT — weaker than the append's and documented
    * honestly: compaction destroys history below the new floor, so a
    * crash BETWEEN a leg compaction and the hybrid flip cannot be
    * invisible (the compacted leg's floor is already above the hybrid
    * head). In that window serves and appends REFUSE LOUDLY (the leg
    * as-of read hits its window floor; the append's leg-state guard
    * rejects the off-sync window) — a brief maintenance outage, never
    * a misserve. The RETRY rolls forward: a leg already at
    * `(hi+1, hi+1)` was compacted by the crashed attempt and is
    * skipped, the other catches up, the flip publishes the pair
    * (the [[appendHybridIndex]] head-inspection discipline applied to
    * compaction). Like the leg compactions, serving is row-identical
    * across the flip and replaced generations are reclaimed by the
    * next mutation's leading purge.
    *
    * Returns whether the fold actually RAN — false when the window is
    * already one generation, or when a crashed append's half-done leg
    * defers the fold to that append's own roll-forward (pre-r19 the
    * skip was silent and [[maybeCompactHybridIndex]] reported a no-op
    * as a compaction — ADVICE r18). */
  def compactHybridIndex(spark: SparkSession, path: String): Boolean = {
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    // pending-intent interactions (round 18):
    //   - a crashed APPEND that already advanced a leg must be rolled
    //     forward by ITS retry (the stream appends right after this
    //     cadence point) — folding now would orphan the half-done
    //     generation in a state neither roll-forward recognizes, so
    //     SKIP the fold and let the next cadence catch up;
    //   - a crashed append that touched NOTHING left a vacuous intent
    //     — the fold proceeds and its commit clears it;
    //   - a crashed RETRAIN refuses loudly: its roll-forward is
    //     retrainHybridDense's, and compacting around a half-built
    //     epoch snapshot would wedge the store.
    st0.pending match {
      case Some(("A", g)) =>
        if (Seq("sparse", "dense").exists(n =>
          GenerationManifest.window(s"$path/$n") == ((lo, g)))) return false
      case Some(("R", _)) =>
        throw new IllegalArgumentException(
          s"requirement failed: a dense-leg retrain is in flight at " +
            s"$path (pending intent ${st0.pending.get}) — run " +
            "retrainHybridDense to roll it forward before compacting")
      case _ => ()
    }
    // leading purge (the appendHybridIndex discipline): a crash MID
    // float-fold leaves torn parquet under _floats/gen=hi+1, and the
    // fold below reads the whole _floats tree before overwriting —
    // schema/footer inference over the debris would wedge the retry.
    // In the HybridIndexStream cadence this compaction runs BEFORE the
    // append's purge ever executes, so the purge must be local
    GenerationManifest.purgeOutside(path, Seq("_floats"), lo, hi)
    if (lo == hi) return false
    // PER-GENERATION coverage, exactly hybridServeAt's guard: a bare
    // existence check would fold a PARTIAL sidecar (a pre-r17 store
    // upgraded by one append, or a crashed backfill) into the new
    // generation — laundering the gap past the serve guard into a
    // silent rerank shrink
    val floatMissing = (lo to hi).filterNot(floatGens(spark, path))
    require(floatMissing.isEmpty,
      s"_floats sidecar at $path does not cover generation(s) " +
        s"${floatMissing.mkString(", ")} of the committed window " +
        s"[$lo, $hi] — folding a partial sidecar would silently shrink " +
        "the served rerank; run backfillHybridFloats (or rebuild) " +
        "before compacting")
    def legCompact(name: String)(compact: => Unit): Unit = {
      val w = GenerationManifest.window(s"$path/$name")
      if (w == ((hi + 1, hi + 1))) return // crashed attempt already did it
      require(w == ((lo, hi)),
        s"hybrid leg '$name' window $w is out of sync with the hybrid " +
          s"window [$lo, $hi] at $path — legs must only be mutated " +
          "through the hybrid ops")
      compact
    }
    legCompact("sparse")(compactIndex(spark, s"$path/sparse"))
    legCompact("dense")(SimilarityOps.compactAnnIndex(spark, s"$path/dense"))
    // fold the float sidecar into the new generation (explicit gen-dir
    // overwrite = idempotent under retries); until the flip the folded
    // dir is debris above the hybrid window, invisible to serves
    writeHybridFloats(
      spark.read.parquet(s"$path/_floats")
        .filter(col("gen").between(lo, hi))
        .select(col("vec_id"), col("label"), col("embedding")),
      path, hi + 1)
    // the folded generation seals every id the window sealed — recompute
    // the range from the compacted legs (exact even for legacy windows
    // whose generations predate the watermark records)
    val range = combinedRange(
      spark.read.parquet(s"$path/sparse")
        .filter(col("gen") === hi + 1).select(col("doc_id")),
      "doc_id",
      spark.read.parquet(s"$path/dense")
        .filter(col("gen") === hi + 1).select(col("vec_id")),
      "vec_id")
    // commit, not amend: resetting the per-generation records to the
    // one folded entry is the compaction's intent. An EPOCHED store
    // keeps its epoch marker — the dense leg's compaction re-seats the
    // head epoch's quantizers as the folded generation's, so the
    // hybrid-level record must follow (dropping it would erase the
    // "this store was retrained" answer while the leg still serves
    // retrained codes)
    // fenced on the token read at the head of the fold: an append (or
    // retrain) that flipped the hybrid manifest while the legs were
    // folding would otherwise be silently un-published here
    GenerationManifest.commit(path, hi + 1, hi + 1, Map((hi + 1) -> range),
      epochBases =
        if (st0.epochBases.nonEmpty) Seq(hi + 1) else Seq.empty,
      expectSeq = Some(st0.seq))
    true
  }

  /** The window-growth rule as code ([[GenerationManifest.compactIfPast]]
    * bound to the joint compaction — the round-17 threshold-API family):
    * compact when the committed window spans more than `maxGens`
    * generations. A streaming-maintenance deployment calls this at its
    * checkpoint cadence. Returns whether the fold actually RAN — a
    * fold deferred to a crashed append's roll-forward reports false
    * (the [[compactHybridIndex]] skip signal, propagated). */
  def maybeCompactHybridIndex(
      spark: SparkSession, path: String, maxGens: Long): Boolean =
    GenerationManifest.compactIfPast(path, maxGens)(
      compactHybridIndex(spark, path))

  /** [[gcIndex]] for the hybrid store: the root's float sidecar plus
    * BOTH legs, each under its own manifest (the legs' windows — and
    * so their floors — stay lockstep with the root's by the hybrid
    * invariant). Returns the root's committed retention floor. */
  def gcHybridIndex(
      path: String,
      retainGens: Long = GenerationManifest.DefaultRetainGens): Long = {
    val floor = GenerationManifest.gc(path, Seq("_floats"), retainGens)
    GenerationManifest.gc(s"$path/sparse", IndexRoots, retainGens)
    GenerationManifest.gc(s"$path/dense", SimilarityOps.AnnIndexRoots,
      retainGens)
    floor
  }

  /** Roll a CRASHED dense-leg retrain forward if one is pending —
    * [[retrainHybridDense]]'s resume path behind a one-manifest-read
    * check (round 19, the r18 verdict's #2): a pending `R` intent
    * makes [[appendHybridIndex]] and [[compactHybridIndex]] refuse by
    * design, so a maintenance stream meeting one would otherwise wedge
    * in a refuse-crash-replay loop until an operator intervened —
    * exactly the crashed-compaction gap the stream's head-of-batch
    * `maybeCompactHybridIndex` already closes, applied to the retrain.
    * `ivfIters`/`pqIters`/`trainSample` matter only when the crash
    * landed BEFORE the dense epoch snapshot finished (the quantizers
    * retrain from scratch with these parameters); after it, the resume
    * is pure leg/footer/flip roll-forward. Returns whether a resume
    * ran. */
  def maybeResumeHybridRetrain(
      spark: SparkSession, path: String,
      ivfIters: Int = 5, pqIters: Int = 5,
      trainSample: Option[DataFrame] = None): Boolean = {
    val pending = GenerationManifest.state(path).pending
    if (pending.exists(_._1 == "R")) {
      retrainHybridDense(spark, path, ivfIters, pqIters, trainSample)
      true
    } else false
  }

  /** RETRAIN the hybrid store's DENSE-LEG quantizers — the one
    * quantizer-bearing family that had no epoch-retrain path (round 18
    * closes the r17 `weak`): a q122 deployment whose corpus drifts
    * could previously only rebuild, losing the store's generation
    * history, while a direct `retrainIvfPq` on the leg is exactly the
    * out-of-band mutation [[appendHybridIndex]]'s guard refuses (and
    * pre-r18 silently mis-repaired). The retrain is SELF-CONTAINED:
    * the training corpus is the store's own versioned `_floats`
    * sidecar (every committed generation's float truth — no external
    * corpus parameter, no coverage invariant to trust), re-encoded by
    * [[SimilarityOps.retrainIvfPq]] as the dense leg's epoch-base
    * generation `hi+1`. The sparse leg's CONTENT is untouched by a
    * dense retrain, but the lockstep invariant (hybrid generation h ≡
    * the pair (sparse h, dense h)) requires it to advance: it seals an
    * EMPTY generation — no postings, the cumulative `_stats` row
    * carried verbatim (the compaction discipline) — so every serve at
    * or past the flip ranks identically on the sparse side and
    * re-encodes only the dense side. The hybrid manifest records the
    * generation as an EPOCH base, the inverted-EMPTY watermark ("seals
    * no new ids"), and an empty `_floats/gen=hi+1` footer (the serve
    * guard's per-generation coverage).
    *
    * Crash contract — the [[appendHybridIndex]] intent protocol, kind
    * `R`: the intent commits BEFORE the dense retrain and clears with
    * the flip; a retry positively identifies the half-done legs (the
    * dense leg one-ahead must also be an epoch base) and rolls
    * forward; appends and compactions meeting the intent refuse loudly
    * with the roll-forward named. As-of serves BELOW the flip replay
    * the OLD quantizers bit for bit ([[SimilarityOps.ivfPqSearchIndex]]'s
    * epoch resolution); appends after it encode with the NEW
    * (spec-pinned). Run [[hybridDriftServed]] — the q119 review for
    * the composed store — before pointing traffic at the new head.
    *
    * Crash seams (the [[appendHybridIndex]] convention): the intent
    * amend's `flip:after:<path>`, the dense-leg epoch retrain's
    * `flip:after:<path>/dense`, the sparse leg's empty seal
    * `flip:after:<path>/sparse`, and (float footer written) the
    * publishing `flip:before:<path>` — every such state must be
    * invisible to serves and rolled forward by the retry (or by
    * [[graft.streaming.HybridIndexStream]]'s head-of-batch
    * self-healing, round 19). */
  def retrainHybridDense(
      spark: SparkSession, path: String,
      ivfIters: Int = 5, pqIters: Int = 5,
      trainSample: Option[DataFrame] = None): Unit = {
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    var fence = st0.seq
    require(!st0.pending.exists(_._1 == "A"),
      s"an append is in flight at $path (pending intent " +
        s"${st0.pending.get}) — redeliver its batch through " +
        "appendHybridIndex to roll it forward (a redelivery of " +
        "already-sealed rows clears a vacuous intent), or run " +
        "compactHybridIndex (the fold clears it), then retrain")
    val resuming = st0.pending.contains(("R", hi + 1))
    GenerationManifest.purgeOutside(path, Seq("_floats"), lo, hi)
    // the sidecar IS the training corpus — its per-generation coverage
    // guard is therefore a precondition here, not just at serve time
    val missing = (lo to hi).filterNot(floatGens(spark, path))
    require(missing.isEmpty,
      s"_floats sidecar at $path does not cover generation(s) " +
        s"${missing.mkString(", ")} of the committed window [$lo, $hi] " +
        "— the retrain re-encodes from the sidecar's float truth; run " +
        "backfillHybridFloats (or rebuild) first")
    def legState(name: String): Boolean = {
      val w = GenerationManifest.window(s"$path/$name")
      if (w == ((lo, hi))) false
      else if (w == ((lo, hi + 1)) && resuming) true
      else throw new IllegalArgumentException(
        s"requirement failed: hybrid leg '$name' window $w is out of " +
          s"sync with the hybrid window [$lo, $hi] at $path — legs " +
          "must only be mutated through the hybrid ops")
    }
    val sparseDone = legState("sparse")
    val denseDone = legState("dense")
    // positive identification of the crashed attempt's halves — the
    // intent alone says "a retrain was running", the leg must also
    // LOOK like that retrain's work (an out-of-band mutation landing
    // inside the crash window would otherwise be laundered into the
    // roll-forward): the dense leg's one-ahead generation must be the
    // epoch snapshot the attempt was building; the sparse leg's must
    // be its EMPTY seal (the known-empty watermark it writes) — a real
    // range there means someone appended postings out-of-band
    if (denseDone)
      require(GenerationManifest.epochs(s"$path/dense").contains(hi + 1),
        s"dense leg at $path is one generation ahead under a retrain " +
          s"intent but generation ${hi + 1} is not an epoch base — " +
          "the store was mutated outside the hybrid ops; rebuild")
    if (sparseDone)
      require(GenerationManifest.watermarks(s"$path/sparse").get(hi + 1)
        .contains((Long.MaxValue, Long.MinValue)),
        s"sparse leg at $path is one generation ahead under a retrain " +
          s"intent but generation ${hi + 1} is not the retrain's empty " +
          "seal — the store was mutated outside the hybrid ops; rebuild")
    if (!resuming)
      fence = GenerationManifest.amend(path, Some(fence))(s =>
        s.copy(pending = Some(("R", hi + 1)))).seq
    if (!denseDone) {
      val floats = spark.read.parquet(s"$path/_floats")
        .filter(col("gen").between(lo, hi))
        .select(col("vec_id"), col("label"), col("embedding"))
      SimilarityOps.retrainIvfPq(
        floats, s"$path/dense", ivfIters, pqIters, trainSample)
    }
    if (!sparseDone) {
      // leading purge (the appendGeneric discipline): a crash between
      // the stats carry and the leg flip would otherwise double-append
      // the carried row on retry
      GenerationManifest.purgeOutside(s"$path/sparse", IndexRoots, lo, hi)
      spark.read.schema(StatsSchema).parquet(s"$path/sparse/_stats")
        .filter(col("gen") === hi).drop("gen")
        .withColumn("gen", lit(hi + 1))
        .write.partitionBy("gen").mode("append").parquet(s"$path/sparse/_stats")
      GenerationManifest.amend(s"$path/sparse")(s => s.copy(hi = hi + 1,
        // known-empty: the leg's own idempotency check skips it
        wms = s.wms + ((hi + 1) -> ((Long.MaxValue, Long.MinValue)))))
    }
    // the retrain seals no NEW ids: empty float footer (coverage
    // guard), inverted-EMPTY watermark (idempotency scans skip it)
    writeHybridFloats(
      spark.read.parquet(s"$path/_floats").limit(0)
        .select(col("vec_id"), col("label"), col("embedding")),
      path, hi + 1)
    GenerationManifest.amend(path, Some(fence))(s => s.copy(
      hi = hi + 1,
      wms = s.wms + ((hi + 1) -> ((Long.MaxValue, Long.MinValue))),
      epochBases = s.epochBases :+ (hi + 1),
      pending = None))
  }

  /** The HYBRID DRIFT review between two generations of the store —
    * the q117/q119/q123/q124 pre-flip question asked of the SERVING
    * ENDPOINT: what would pointing traffic at the retrained head
    * change in the fused ranking? Both generations serve through the
    * unchanged [[hybridServeAt]] (joint as-of — each leg, the fusion,
    * and the rerank floats all at the correlated generation), then ONE
    * full-outer join over the two ≤ k·|Q| fused relations reduces to
    * the one-row flip matrix:
    *
    *   - `n_queries`, `n_old`, `n_new` — query count and fused-set
    *     sizes at each generation;
    *   - `n_common`, `agreement_ppm` — (qid, doc_id) pairs retrieved
    *     by BOTH, and their share of the new serve (the q122 spec's
    *     fused-rank-agreement metric, in ppm — the number that decides
    *     the flip, with the q83-vs-q78 0.7 precedent as the floor);
    *   - `n_rank_same` — common pairs whose FUSED rank is unchanged;
    *   - `n_sparse_flips`, `n_dense_flips` — common pairs whose
    *     per-leg rank moved. A dense-only retrain must show
    *     `n_sparse_flips = 0` (the sparse leg's empty generation
    *     changes nothing) — a nonzero value means the legs were not
    *     actually correlated, which is the review's loudest alarm.
    *
    * Everything is rank arithmetic on two bounded relations — corpus
    * cost is the two serves themselves, each index-pruned. Rows-only
    * under the q84 waiver when registered (trained k-means legs);
    * the spec pins the agreement floor and the zero-sparse-flip
    * invariant on the fixture. */
  def hybridDriftServed(
      spark: SparkSession, path: String,
      oldGen: Long = -1L, newGen: Long = Long.MaxValue): DataFrame = {
    val (lo, hi) = GenerationManifest.window(path)
    val og = if (oldGen >= 0) oldGen else hi - 1
    val ng = math.min(newGen, hi)
    // the shared driftGens guard semantics (TextOps.driftGens), stated
    // here against the hybrid window: degenerate asks refuse loudly
    require(og >= lo,
      s"drift needs two addressable generations (window [$lo, $hi])")
    require(og <= hi,
      s"oldGen=$og is beyond the committed head $hi at $path")
    require(ng >= lo,
      s"newGen=$ng predates the window floor $lo at $path")
    require(og != ng,
      s"drift between generation $og and itself is vacuously zero — " +
        s"pass two distinct generations (window [$lo, $hi])")
    require(og < ng,
      s"oldGen=$og is not older than newGen=$ng at $path — the drift " +
        "review reads old → new; swap the arguments")
    // OVERLAPPED serve construction (opt round 21, guide §2.6): each
    // hybridServeAt front-loads 5 eager driver jobs (the float
    // sidecar's schema inference and probe collect, the one quantizer
    // sidecar load, the codes' and the postings' schema inference)
    // before returning its lazy plan; the two generations' loads are
    // independent, so two driver threads halve that serial prefix.
    // The returned matrix plan is unchanged — same lazy composition.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    def serveF(g: Long): Future[DataFrame] = Future {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      hybridServeAt(spark, path, asOfGen = g)
    }
    val (oF, nF) = (serveF(og), serveF(ng))
    driftMatrix(
      Await.result(oF, scala.concurrent.duration.Duration.Inf),
      Await.result(nF, scala.concurrent.duration.Duration.Inf))
  }

  /** The FLIP-MATRIX arithmetic of the drift review, factored out of
    * [[hybridDriftServed]] (round 19 — the r18 watch item: the
    * trained quantizers are waived, but the full-outer join /
    * agreement-ppm / flip-count arithmetic is deterministic and
    * deserves a hash-green oracle of its own, which [[q127DriftMatrix]]
    * provides over two deterministic fused relations). Both inputs
    * carry `(qid, doc_id, rank, s_rank, d_rank)` — any two fused
    * serves reduce to the one-row matrix documented at
    * [[hybridDriftServed]]. */
  private[graft] def driftMatrix(o0: DataFrame, n0: DataFrame): DataFrame = {
    val o = o0.select(col("qid"), col("doc_id"), col("rank").as("r1"),
      col("s_rank").as("s1"), col("d_rank").as("d1"))
    val n = n0.select(col("qid"), col("doc_id"), col("rank").as("r2"),
      col("s_rank").as("s2"), col("d_rank").as("d2"))
    o.join(n, Seq("qid", "doc_id"), "full_outer")
      .agg(
        countDistinct(col("qid")).as("n_queries"),
        count(col("r1")).as("n_old"),
        count(col("r2")).as("n_new"),
        sum(when(col("r1").isNotNull && col("r2").isNotNull, 1L)
          .otherwise(0L)).as("n_common"),
        sum(when(col("r1") === col("r2"), 1L).otherwise(0L))
          .as("n_rank_same"),
        sum(when(col("r1").isNotNull && col("r2").isNotNull &&
          col("s1") =!= col("s2"), 1L).otherwise(0L)).as("n_sparse_flips"),
        sum(when(col("r1").isNotNull && col("r2").isNotNull &&
          col("d1") =!= col("d2"), 1L).otherwise(0L)).as("n_dense_flips"))
      .select(col("n_queries"), col("n_old"), col("n_new"), col("n_common"),
        when(col("n_new") > 0,
          expr("n_common * 1000000 div n_new")).otherwise(0L)
          .as("agreement_ppm"),
        col("n_rank_same"), col("n_sparse_flips"), col("n_dense_flips"))
  }

  /** q126 — HYBRID RETRAIN + DRIFT end to end (the q119 loop for the
    * composed store, closing the r17 `weak`): seal the TRAINED hybrid
    * on the full corpus (generation 1), RETRAIN its dense leg from the
    * store's own `_floats` sidecar with the even-id training sample
    * ([[SimilarityOps.QuantRetrainMod]] — the drifted-corpus stand-in)
    * which seals epoch generation 2 across BOTH legs in lockstep, and
    * report [[hybridDriftServed]]'s review between the two — the table
    * a q122 deployment reads before flipping traffic to the retrained
    * quantizers. Rows-only (the q84 waiver); the agreement floor,
    * zero-sparse-flip invariant, as-of replay, and append-after-
    * retrain contracts are spec-pinned. EAGER, q112 temp-dir
    * convention. */
  def q126HybridDrift(
      spark: SparkSession, dir: String,
      ivfIters: Int = 3, pqIters: Int = 3): DataFrame = {
    val path = SimilarityOps.tempIndexDir("graft-hybrid-drift")
    val emb = Tables.embeddings(spark, dir)
    writeTrainedHybridIndex(
      Tables.documents(spark, dir), emb, path, ivfIters, pqIters)
    retrainHybridDense(spark, path, ivfIters, pqIters,
      trainSample = Some(emb.filter(
        col("vec_id") % SimilarityOps.QuantRetrainMod === 0)))
    hybridDriftServed(spark, path)
  }

  // ------------------------------------------------------------- q127

  /** q127 — the drift review's FLIP-MATRIX arithmetic, hash-verified
    * (round 19, the r18 watch item): q126's matrix is rows-only
    * because its two inputs ride trained quantizers, but the
    * [[driftMatrix]] reduction itself — full-outer join over the two
    * fused serves, common/flip counts, integer agreement-ppm — is
    * deterministic and DuckDB-replayable given deterministic inputs.
    * This query feeds it exactly the kind of pair a dense-leg retrain
    * produces: OLD = q78's fusion (BM25 sparse leg + full-dimension
    * exact cosine), NEW = the same fusion with the dense leg scored on
    * the first [[SimilarityOps.MatryoshkaPrefixDim]] dimensions (the
    * q106 matryoshka slice — a deterministic stand-in for "the dense
    * leg re-encoded under new quantizers, the sparse leg untouched").
    * The oracle replays both fusions AND the matrix, so the
    * zero-sparse-flip invariant (`n_sparse_flips = 0` when only the
    * dense leg changes) is hash-checked rather than spec-asserted —
    * shrinking the rows-only set to the queries whose inputs are
    * genuinely un-oracle-able (q33's HLL, q84/q122/q126's trained
    * k-means, q119's trained drift).
    *
    * Scale shape: both fused relations are ≤ k·|Q| fixed-width rows
    * (all corpus cost lives in the legs, q78's argument), so the
    * review join and the one-row aggregate are driver-trivial at any
    * corpus size. */
  def q127DriftMatrix(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sparse = q76Bm25TopK(spark, dir)
      .select($"qid", $"doc_id", $"rank".as("s_rank"))
    driftMatrix(
      fuseRrf(sparse, denseRanks(spark, dir)),
      fuseRrf(sparse, denseRanks(spark, dir,
        prefixDims = Some(SimilarityOps.MatryoshkaPrefixDim))))
  }

  /** One fused relation as a SQL subquery body (columns `qid, doc_id,
    * rank, s_rank, d_rank`) — the CTE form of [[rrfTailSql]]'s
    * arithmetic, parameterized by the leg CTE names so q127's oracle
    * can fuse twice in one statement. */
  private def fusedCteSql(sparseCte: String, denseCte: String): String = {
    val rrf =
      s"""(CASE WHEN coalesce(s.s_rank, 0) > 0 THEN 1000000 // ($RrfK + coalesce(s.s_rank, 0)) ELSE 0 END
         |            + CASE WHEN coalesce(d.d_rank, 0) > 0 THEN 1000000 // ($RrfK + coalesce(d.d_rank, 0)) ELSE 0 END)""".stripMargin
    s"""|  SELECT qid, doc_id, rank, s_rank, d_rank FROM (
        |    SELECT coalesce(s.qid, d.qid) AS qid,
        |           coalesce(s.doc_id, d.doc_id) AS doc_id,
        |           coalesce(s.s_rank, 0) AS s_rank,
        |           coalesce(d.d_rank, 0) AS d_rank,
        |           row_number() OVER (PARTITION BY coalesce(s.qid, d.qid)
        |             ORDER BY $rrf DESC, coalesce(s.doc_id, d.doc_id)) AS rank
        |    FROM $sparseCte s FULL OUTER JOIN $denseCte d
        |      ON s.qid = d.qid AND s.doc_id = d.doc_id
        |  ) WHERE rank <= $TopK""".stripMargin
  }

  /** q127's oracle: q76's sparse leg once, the exact dense leg twice
    * (full-dimension and matryoshka-prefix cosine), both fusions via
    * [[fusedCteSql]], then the flip matrix verbatim. */
  def q127OracleSql(): String = {
    val probeIds = DenseProbeIds.mkString(", ")
    val prefix = SimilarityOps.MatryoshkaPrefixDim
    def denseLeg(simExpr: String, name: String): String =
      s"""|ds_$name AS (
          |  SELECT p_qid, vec_id, round($simExpr, 6) AS sim
          |  FROM embeddings, p
          |), dense_$name AS (
          |  SELECT p_qid AS qid, vec_id AS doc_id, d_rank FROM (
          |    SELECT p_qid, vec_id,
          |           row_number() OVER (PARTITION BY p_qid ORDER BY sim DESC, vec_id) AS d_rank
          |    FROM ds_$name
          |  ) WHERE d_rank <= $TopK
          |)""".stripMargin
    val fullSim =
      """list_dot_product(embedding::DOUBLE[], pe) /
        |               (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
        |                sqrt(list_dot_product(pe, pe)))""".stripMargin
    val prefSim =
      s"""list_dot_product((embedding::DOUBLE[])[1:$prefix], pe[1:$prefix]) /
         |               (sqrt(list_dot_product((embedding::DOUBLE[])[1:$prefix], (embedding::DOUBLE[])[1:$prefix])) *
         |                sqrt(list_dot_product(pe[1:$prefix], pe[1:$prefix])))""".stripMargin
    s"""|WITH sparse AS (
        |  SELECT qid, doc_id, rank AS s_rank FROM (
        |${q76OracleSql().linesIterator.map("    " + _).mkString("\n")}
        |  )
        |), p AS (
        |  SELECT vec_id::INT AS p_qid, embedding::DOUBLE[] AS pe
        |  FROM embeddings WHERE vec_id IN ($probeIds)
        |), ${denseLeg(fullSim, "o")},
        |${denseLeg(prefSim, "n")},
        |fused_o AS (
        |${fusedCteSql("sparse", "dense_o")}
        |), fused_n AS (
        |${fusedCteSql("sparse", "dense_n")}
        |), j AS (
        |  SELECT qid, o.rank AS r1, o.s_rank AS s1, o.d_rank AS d1,
        |         n.rank AS r2, n.s_rank AS s2, n.d_rank AS d2
        |  FROM fused_o o FULL OUTER JOIN fused_n n USING (qid, doc_id)
        |), m AS (
        |  SELECT count(DISTINCT qid)::BIGINT AS n_queries,
        |         count(r1)::BIGINT AS n_old,
        |         count(r2)::BIGINT AS n_new,
        |         sum(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_common,
        |         sum(CASE WHEN r1 = r2 THEN 1 ELSE 0 END)::BIGINT AS n_rank_same,
        |         sum(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL AND s1 <> s2 THEN 1 ELSE 0 END)::BIGINT AS n_sparse_flips,
        |         sum(CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL AND d1 <> d2 THEN 1 ELSE 0 END)::BIGINT AS n_dense_flips
        |  FROM j
        |)
        |SELECT n_queries, n_old, n_new, n_common,
        |       (CASE WHEN n_new > 0 THEN n_common * 1000000 // n_new ELSE 0 END)::BIGINT AS agreement_ppm,
        |       n_rank_same, n_sparse_flips, n_dense_flips
        |FROM m""".stripMargin
  }

  /** The hybrid serve at a CORRELATED generation: both legs read
    * as-of the hybrid window's resolution of `asOfGen`, so the fused
    * ranking is exactly what the hybrid returned when that generation
    * was the committed head — the joint-reproducibility read r15
    * documented as ill-defined. SELF-CONTAINED since round 17: the
    * rerank floats AND the probe vectors come from the store's own
    * versioned `_floats` sidecar scoped to the same window — no caller
    * corpus, so the seal holds with no external invariant (r16 leaned
    * on "floats immutable per id" prose). The guard is PER-GENERATION
    * coverage of the served window, not bare directory existence: a
    * pre-r17 store upgraded by a single append would carry floats for
    * only the new generation (PQ codes cannot reconstruct the base's
    * floats), and serving it would silently degrade the dense leg to
    * empty — refused loudly instead; REBUILD the store to version
    * it. */
  def hybridServeAt(
      spark: SparkSession, path: String,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val (lo, g) = GenerationManifest.windowAt(path, asOfGen)
    // the one state the flip-last rule cannot hide: a crashed JOINT
    // COMPACTION left a leg's window floor above the hybrid head (leg
    // history below the fold is destroyed, so as-of truncation cannot
    // serve it). Name the state and its repair instead of letting the
    // leg read surface a bare "window floor" refusal
    Seq("sparse", "dense").foreach { n =>
      val legLo = GenerationManifest.window(s"$path/$n")._1
      require(legLo <= g,
        s"hybrid leg '$n' window floor $legLo is above the served " +
          s"generation $g at $path — a joint compaction is in flight " +
          "(or crashed between the leg folds and the hybrid flip); run " +
          "compactHybridIndex to roll it forward, then serve at the " +
          "new head")
    }
    val missing = (lo to g).filterNot(floatGens(spark, path))
    require(missing.isEmpty,
      s"_floats sidecar at $path does not cover generation(s) " +
        s"${missing.mkString(", ")} of the served window [$lo, $g] — a " +
        "pre-r17 hybrid store (or one upgraded by appends alone) serves " +
        "its rerank from an unversioned corpus, which breaks joint as-of " +
        "reproducibility, and PQ codes cannot reconstruct the missing " +
        "floats; REBUILD the store to version them")
    val floats = spark.read.parquet(s"$path/_floats")
      .filter($"gen".between(lo, g))
      .select($"vec_id", $"label", $"embedding")
    // NOT overlapped (measured, opt round 21): constructing the two
    // legs on concurrent driver threads measured neutral at sf0.1
    // (q120/q122 flat in a back-to-back A/B vs this serial form) —
    // the legs are lazy plan construction; only their small eager
    // sidecar loads could overlap, and the thread overhead cancels it.
    val dense = denseLegServed(spark, s"$path/dense", floats, asOfGen = g)
    val sparse = bm25SearchIndex(spark, s"$path/sparse", asOfGen = g)
      .select($"qid", $"doc_id", $"rank".as("s_rank"))
    fuseRrf(sparse, dense)
  }

  // NOTE (opt round 21): the `_floats` sidecar's schema is NOT pinned
  // like the other sidecars — its layout inherits the CALLER's
  // embeddings columns (label is int in the fixture but string in
  // several spec-built stores), so an explicit schema here would be a
  // correctness bug, not an optimization. Measured cost of leaving the
  // inference job: one ~40 ms job per cold hybrid serve.

  /** q120 — the hybrid STORE end to end, oracle-proven: build the
    * cross-store hybrid on the sealed base split, APPEND the delta
    * (one correlated seal advancing both legs), and serve at the
    * head. The oracle is q83's full-corpus hybrid — so the driver
    * itself verifies append ≡ rebuild across BOTH legs AND the fusion
    * (the q112 theorem for the composed hybrid); `hybridServeAt`'s
    * joint as-of is spec-pinned in TimeTravelSpec. Like q112, the
    * registered form re-pays build+append into a temp dir per call. */
  def q120HybridServed(spark: SparkSession, dir: String): DataFrame = {
    val path = SimilarityOps.tempIndexDir("graft-hybrid-store")
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val baseP = (id: org.apache.spark.sql.Column) =>
      id % DedupOps.DeltaMod =!= DedupOps.DeltaRem
    writeHybridIndex(
      docs.filter(baseP(col("doc_id"))), emb.filter(baseP(col("vec_id"))),
      path)
    appendHybridIndex(
      docs.filter(!baseP(col("doc_id"))), emb.filter(!baseP(col("vec_id"))),
      path)
    hybridServeAt(spark, path)
  }

  /** q120's oracle IS q83's: the served hybrid over base+delta must
    * equal the full-corpus hybrid — append ≡ rebuild across both legs
    * and the fusion. */
  def q120OracleSql(): String = q83OracleSql()

  /** TRAINED-dense-leg hybrid BUILD — q84's leg in the q120 store, the
    * actual production serve (the fixed-constant q120/q83 legs exist
    * for the DuckDB oracle chain, not as the recommended
    * configuration): same layout, lockstep invariant, float sidecar,
    * and watermark as [[writeHybridIndex]], with the dense leg built
    * by [[SimilarityOps.trainIvfPq]] (Lloyd coarse centroids +
    * residual-trained codebooks). [[appendHybridIndex]] and
    * [[hybridServeAt]] work UNCHANGED — the dense append reads the
    * persisted trained quantizers, the serve resolves them through the
    * same epoch-aware root — so the whole q120 crash/repair/as-of
    * contract carries over structurally. */
  def writeTrainedHybridIndex(
      docs: DataFrame, emb: DataFrame, path: String,
      ivfIters: Int = 3, pqIters: Int = 3): Unit = {
    writeInvertedIndex(docs, s"$path/sparse")
    SimilarityOps.trainIvfPq(emb, s"$path/dense", ivfIters, pqIters)
    writeHybridFloats(emb, path, 1L)
    GenerationManifest.commit(path, 1L, 1L,
      Map(1L -> combinedRange(docs, "doc_id", emb, "vec_id")))
  }

  /** q122 — the TRAINED hybrid: [[writeTrainedHybridIndex]] + the
    * unchanged [[hybridServeAt]]. Rows-only (the q84 waiver — trained
    * k-means fixed points have no SQL twin); the spec pins the fusion
    * contract (exact integer RRF arithmetic, every fused row retrieved
    * by some leg) and a fused-rank-agreement floor against the
    * oracle-verified fixed-constant hybrid (the q83-vs-q78 0.7
    * precedent — the trained leg serves an approximation of the SAME
    * metric, not a different ranking). EAGER, q112 temp-dir
    * convention. */
  def q122HybridTrained(spark: SparkSession, dir: String): DataFrame = {
    val path = SimilarityOps.tempIndexDir("graft-hybrid-trained")
    writeTrainedHybridIndex(
      Tables.documents(spark, dir), Tables.embeddings(spark, dir), path)
    hybridServeAt(spark, path)
  }

  // ------------------------------------------------------------- q85

  /** q85 — PASSAGE-level BM25 retrieval, the RAG serving shape: the
    * retrieval UNIT is the q75 overlapping token-window chunk (what
    * actually feeds a generator's context window), the RESULT unit is
    * the document with its best passage as evidence — per query, each
    * doc is represented by its highest-scoring chunk (one doc cannot
    * flood the top-k with its own overlapping windows, the standard
    * max-passage rule), then docs rank by that passage score.
    *
    * Composition, not new machinery: q75's chunker (verbatim — the
    * spec-pinned lossless segmentation) feeds q76's scoring fragment
    * ([[scoreSqlFragment]], shared with the oracle) under CHUNK-level
    * statistics (df/avgdl over passages, not documents — the
    * granularity a passage index actually stores; BM25's length
    * normalization then compares a chunk against typical chunk
    * length, which is the point of passage retrieval).
    *
    * Scale shape: chunking is q75's narrow generate (~n/stride
    * fan-out, no shuffle); stats are one broadcast row; scoring is a
    * per-chunk codegen'd projection with the bounded query-branch
    * explode; then TWO rank exchanges — best-passage-per-(query, doc)
    * and top-k-per-query — both `WindowGroupLimit`-cut below their
    * shuffles, carrying any-hit chunk rows only (a vanishing fraction
    * of the corpus for literal query terms). Chunk text itself never
    * shuffles — only (qid, doc_id, chunk_idx, score) survives the
    * projection. */
  def q85PassageBm25(spark: SparkSession, dir: String): DataFrame = {
    val proj = chunkTermProjection(Tables.documents(spark, dir))
    val aggs = sum(col("dl")).as("sumdl") +:
      AllTerms.map(t =>
        sum((col(s"tf_$t") > 0).cast("long")).as(s"df_$t"))
    val stats = proj.agg(count(lit(1)).as("n"), aggs: _*)
    passageScoreAndRank(proj, stats)
  }

  /** Per-chunk projection `(doc_id, chunk_idx, dl, tf_<term>…)` —
    * [[docTermProjection]]'s shape at passage granularity, over q75's
    * spec-pinned chunker. */
  private def chunkTermProjection(docs: DataFrame): DataFrame = {
    // fan-out guard (opt round 20): chunk generate + per-chunk term
    // filters — q85's dominant narrow CPU, serialized when starved.
    val chunks = TextOps.chunkTokens(ScaleHints.fanOutIfTiny(docs))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    val tk = TextOps.toks(col("chunk_text"))
    chunks.select(
      col("doc_id") +: col("chunk_idx") +:
        size(tk).cast("long").as("dl") +:
        AllTerms.map(t =>
          size(filter(tk, x => x === lit(t))).cast("long").as(s"tf_$t")): _*)
  }

  /** Score and rank at passage granularity — [[scoreAndRank]]'s twin
    * for `(doc_id, chunk_idx, dl, tf_*)` relations, shared by q85
    * (projection computed in-scan) and q87 (reassembled from the
    * persisted passage postings), so the served path CANNOT drift
    * from the direct one — the q77-inherits-q76 construction. Ends
    * like [[scoreAndRank]]: the ≤ k·|Q| survivors coalesce into one
    * partition, so the contract sort needs no range exchange. */
  private[graft] def passageScoreAndRank(
      perChunk: DataFrame, stats: DataFrame): DataFrame = {
    val branches = BmQueries.map { case (qid, terms) =>
      struct(
        lit(qid).as("qid"),
        expr(scoreSqlFragment(terms)).as("score"),
        terms.map(t => col(s"tf_$t") > 0).reduce(_ || _).as("hit"))
    }
    val bestPassage = Window.partitionBy(col("qid"), col("doc_id"))
      .orderBy(col("score").desc, col("chunk_idx"))
    val byQuery = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    perChunk.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("chunk_idx"),
        explode(array(branches: _*)).as("q"))
      .filter(col("q.hit"))
      .select(col("q.qid").as("qid"), col("doc_id"), col("chunk_idx"),
        round(col("q.score"), 6).as("score"))
      .withColumn("pr", row_number().over(bestPassage))
      .filter(col("pr") === 1).drop("pr")
      .withColumn("rank", row_number().over(byQuery))
      .filter(col("rank") <= TopK)
      .coalesce(1)
      .select(col("qid"), col("rank"), col("doc_id"), col("chunk_idx"),
        col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** q85's oracle: q75's chunk oracle NESTED VERBATIM as the passage
    * relation (segmentation cannot drift from the hash-verified q75),
    * q76's tokenize/tf shape on `chunk_text`, the shared
    * [[scoreSqlFragment]], and the same two-window
    * best-passage-then-top-k rule. */
  def q85OracleSql(): String = {
    val tfCols = AllTerms.map(t =>
      s"len(list_filter(tk, x -> x = '$t'))::BIGINT AS tf_$t")
      .mkString(",\n|         ")
    val dfCols = AllTerms.map(t =>
      s"sum((tf_$t > 0)::INT)::BIGINT AS df_$t").mkString(", ")
    val branches = BmQueries.map { case (qid, terms) =>
      val hit = terms.map(t => s"tf_$t > 0").mkString(" OR ")
      s"""|  SELECT $qid AS qid, doc_id, chunk_idx,
          |         round(${scoreSqlFragment(terms)}, 6) AS score
          |  FROM c, g WHERE $hit"""
    }.mkString("\n|  UNION ALL\n")
    s"""|WITH chunks AS (
        |  SELECT doc_id, chunk_idx, chunk_text FROM (
        |${q75OracleRef().linesIterator.map("    " + _).mkString("\n")}
        |  )
        |), tok AS (
        |  SELECT doc_id, chunk_idx,
        |         list_filter(string_split(lower(chunk_text), ' '), x -> len(x) > 0) AS tk
        |  FROM chunks
        |), c AS (
        |  SELECT doc_id, chunk_idx, len(tk)::BIGINT AS dl,
        |         $tfCols
        |  FROM tok
        |), g AS (
        |  SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl, $dfCols
        |  FROM c
        |), cand AS (
        $branches
        |), best AS (
        |  SELECT qid, doc_id, chunk_idx, score,
        |         row_number() OVER (PARTITION BY qid, doc_id
        |                            ORDER BY score DESC, chunk_idx) AS pr
        |  FROM cand
        |), ranked AS (
        |  SELECT qid, doc_id, chunk_idx, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
        |  FROM best WHERE pr = 1
        |)
        |SELECT qid, rank, doc_id, chunk_idx, score FROM ranked
        |WHERE rank <= $TopK ORDER BY qid, rank""".stripMargin
  }

  /** The q75 chunk oracle, delegated so q85's passage relation is the
    * hash-verified segmentation by construction. */
  private def q75OracleRef(): String = TextOps.q75OracleSql()

  // ------------------------------------------------------------- q87

  /** Build the persisted PASSAGE index — [[writeInvertedIndex]]'s
    * layout at chunk granularity: postings `(token, doc_id, chunk_idx,
    * dl, tf)` under the same `(gen, bucket)` crash-atomic partition
    * scheme and `_GENERATION` manifest (ONE protocol implementation
    * for both index families), with chunk length riding the posting
    * row and chunk-level `(n, sumdl)` totals in `_stats`. This is
    * what a RAG deployment actually persists: q85 scans and re-chunks
    * the corpus per query; the index pays chunking + the (token,
    * chunk) aggregate ONCE per build and serving reads ~|terms|
    * buckets of fixed-width rows — chunk text is not even STORED,
    * serving never touches it (the evidence passage is re-derivable
    * from (doc_id, chunk_idx) against the corpus when a caller needs
    * the text itself). */
  def writePassageIndex(docs: DataFrame, path: String): Unit = {
    chunkPostings(docs).withColumn("gen", lit(1L))
      .repartition(col("bucket")) // one task per bucket dir (build rule)
      .write.partitionBy("gen", "bucket").mode("overwrite").parquet(path)
    chunkTotals(docs).withColumn("gen", lit(1L))
      .write.partitionBy("gen").mode("overwrite").parquet(s"$path/_stats")
    GenerationManifest.commit(path, 1L, 1L,
      wms = Map(1L -> docIdRange(docs)))
  }

  /** Append a delta corpus's chunks to a persisted passage index —
    * the same crash-atomic generation protocol AND the same
    * per-doc_id idempotency as [[appendInvertedIndex]] (shared
    * implementation): a retried seal is a pruned no-op. */
  def appendPassageIndex(docs: DataFrame, path: String): Unit =
    appendGeneric(docs, path, chunkPostings, chunkTotals)

  /** [[appendInvertedIndex]] as a HYBRID LEG: seals a generation even
    * when the kept delta is empty (the cross-store lockstep invariant
    * — one hybrid mutation advances BOTH legs, even a docs-empty
    * correlated delta), and SKIPS the idempotency prelude — the hybrid
    * already pruned the delta jointly and passes the (conservative,
    * joint) range its generation seals. */
  private[graft] def appendInvertedIndexAsLeg(
      docs: DataFrame, path: String, keptRange: (Long, Long)): Unit =
    appendGeneric(docs, path, postings, corpusTotals,
      sealEmpty = true, preKept = Some(keptRange))

  /** The bucketed passage posting rows — ONE definition for build and
    * append. */
  private def chunkPostings(docs: DataFrame): DataFrame = {
    val chunks = TextOps.chunkTokens(docs)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    val tk = TextOps.toks(col("chunk_text"))
    chunks
      .select(col("doc_id"), col("chunk_idx"),
        size(tk).cast("long").as("dl"), explode(tk).as("token"))
      .groupBy(col("token"), col("doc_id"), col("chunk_idx"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("bucket", pmod(xxhash64(col("token")), lit(IndexBuckets)))
  }

  /** One-row `(n, sumdl)` CHUNK totals — n counts passages, sumdl
    * sums passage lengths (the granularity the BM25 length
    * normalization runs at for passage retrieval). */
  private def chunkTotals(docs: DataFrame): DataFrame = {
    val tk = TextOps.toks(col("chunk_text"))
    TextOps.chunkTokens(docs)
      .select(size(tk).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
  }

  /** Serve passage BM25 from the persisted index: the [[bm25SearchIndex]]
    * mechanics — gen-scoped bucket-pruned postings scan, conditional
    * tf reassembly, df derived from the same pruned postings read —
    * keyed by (doc_id, chunk_idx), scored through the SHARED
    * [[passageScoreAndRank]]: row-identical to q85 on the same corpus
    * by construction. `asOfGen` time-travels exactly as
    * [[bm25SearchIndex]]'s does. */
  def passageSearchIndex(
      spark: SparkSession, path: String,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    val (pruned, stats) = servingInputs(spark, path, asOfGen)
    passageScoreAndRank(
      tfColumns(pruned, Seq(col("doc_id"), col("chunk_idx"), col("dl"))),
      stats)
  }

  /** q87 — q85's passage retrieval served from the on-disk passage
    * index (the q77-for-q76 pattern at chunk granularity): build into
    * a scratch dir, serve pruned. Oracle-identical to q85 by the
    * shared scoring core. Rebuilt per call at fixture scale; a
    * deployment builds once per compact generation and serves many. */
  def q87PassageIndexed(spark: SparkSession, dir: String): DataFrame = {
    val path = SimilarityOps.tempIndexDir("graft-passage-index")
    writePassageIndex(Tables.documents(spark, dir), path)
    passageSearchIndex(spark, path)
  }

  /** q87's oracle IS q85's (row-identical serving path). */
  def q87OracleSql(): String = q85OracleSql()
}
