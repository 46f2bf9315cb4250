package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star LLM-training-data-pipeline operators (SURVEY.md §2.3
  * q09–q12): dedup, text statistics, multi-table enrichment join, and
  * similarity search. These generalize the reference's single-stream
  * semantics (a Flink job that only ever filtered/counted tweets —
  * /root/reference/src/main/java/TopNHashtags.java) to the operations a
  * 100 TB training-data pipeline actually runs.
  *
  * Each query is a pure `(SparkSession, sfDir) => DataFrame` paired with a
  * DuckDB oracle in [[graft.SparkEntry.oracleSql]].
  */
object PipelineOps {

  /** q09 — exact deduplication with deterministic canonicalization,
    * keyed on the 64-bit content hash (the 100 TB form).
    *
    * `dropDuplicates("text")` keeps an arbitrary row per key; a pipeline
    * needs a deterministic keep-rule, so we aggregate to `min(doc_id)`
    * per distinct document (plus the duplicate count, which a real
    * pipeline logs). The aggregate is keyed on `xxhash64(text)` — an
    * 8-byte shuffle/grouping key — NOT on `text` itself: at 100 TB a
    * text-keyed exchange ships roughly the corpus over the wire and
    * hashes/compares multi-KB keys in every aggregate probe, ~100× the
    * bytes of the hash key. The text still rides the shuffle once as an
    * aggregate-buffer VALUE (`min(text)` — one distinct value per group
    * per map partition after partial agg), which is the minimum possible:
    * the representative row has to reach its reducer somehow.
    *
    * Collisions are VERIFIED, not assumed away: the result's `text` is
    * `min(text)` guarded by `min(text) === max(text)` — if two distinct
    * documents ever landed in one hash group, the group's min ≠ max and
    * the query raises instead of silently merging them (the guard lives
    * in the output column, so Catalyst cannot prune it). Expected never:
    * P(any collision) ≈ n²/2⁶⁵, ~3·10⁻⁹ even at 10¹⁰ docs — same
    * analysis as q43's documented acceptance, but here it costs only a
    * second text min/max buffer, so we check. The string buffers pick
    * SortAggregate over HashAggregate (Spark's hash agg needs
    * fixed-width mutable buffers) — an acceptable trade: both partial
    * and final sort by the 8-byte hash key, while the alternative,
    * `groupBy(text)`, hashed and compared multi-KB keys in every probe
    * AND shipped them as the exchange key.
    */
  def q09DedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("content_hash", xxhash64($"text"))
      .groupBy($"content_hash")
      .agg(
        min($"doc_id").as("doc_id"),
        when(min($"text") === max($"text"), min($"text"))
          .otherwise(raise_error(concat(
            lit("xxhash64 collision: distinct texts share content hash "),
            $"content_hash".cast("string"))))
          .as("text"),
        count(lit(1)).as("n_dups"))
      .select($"doc_id", $"text", $"n_dups")
      .orderBy($"doc_id")
  }

  /** q10 — per-language corpus statistics (north-star text analysis).
    *
    * Single hash aggregate on `lang` (5 distinct values): count, exact
    * integer char sum, mean chars, distinct sources. `avg` is computed as
    * exact-long-sum / exact-long-count in double so the oracle comparison
    * is bit-deterministic (no float-accumulation-order hazard).
    * `countDistinct` expands to a two-phase aggregate; at 100 TB with a
    * high-cardinality distinct column, swap for `approx_count_distinct`
    * (HLL) — noted, not needed for 20 sources.
    */
  def q10TextStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        (sum($"n_chars").cast("double") / count(lit(1))).as("avg_chars"),
        countDistinct($"source").as("n_sources"))
      .orderBy($"lang")
  }

  /** q11 — multi-table enrichment join + aggregate (reference co-flatmap
    * join #11 generalized to a star-schema equi-join,
    * TopNHashtags.java:298-335).
    *
    * orders ⋈ customer ⋈ nation ⋈ region, aggregated per nation.
    * nation/region carry an unconditional `broadcast()` hint — they are
    * bounded by SCHEMA (25 and 5 rows, a fixed geography), so the hint
    * is always safe. customer GROWS with the dataset, so its hint is
    * size-gated via [[ScaleHints.broadcastIfBounded]]: at test scale
    * Catalyst's file-size estimate is tiny, the hint fires, and the
    * plan is three `BroadcastHashJoin`s with the `orders` scan the only
    * big-data pass; at 100 TB the estimate exceeds the cap, the join is
    * left bare, and AQE picks a shuffle join on `o_custkey` from
    * measured sizes — nation/region still broadcast. The degradation
    * path is in the code, not a comment (PlanShapeSpec pins both the
    * fixture broadcast and the gate's refusal under a zero cap).
    *
    * `o_totalprice` is cast to DECIMAL(12,2) BEFORE summing: decimal
    * addition is exact and associative, so the sum is independent of
    * partitioning/order — a double sum would be nondeterministic at scale.
    * The sum is emitted as exact integer CENTS (BIGINT): a DECIMAL(18,2)
    * result renders trailing zero cents differently across engines
    * (`…351.10` vs `…351.1`), which broke the driver's stringifying hash
    * compare in round 3 even though every value matched; BIGINT has one
    * canonical rendering everywhere.
    */
  def q11JoinEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders   = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val nation   = Tables.nation(spark, dir)
    val region   = Tables.region(spark, dir)
    orders
      .join(ScaleHints.broadcastIfBounded(customer), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(
        count(lit(1)).as("n_orders"),
        (sum($"o_totalprice".cast("decimal(12,2)")) * 100).cast("long")
          .as("sum_price_cents"),
        countDistinct($"c_custkey").as("n_custs"))
      .orderBy($"r_name", $"n_name")
  }

  /** Dot product of two float/double vectors, computed in double
    * precision as a strict left-to-right fold — matches DuckDB
    * `list_dot_product` on `DOUBLE[]` casts bit-for-bit, keeping the
    * oracle hash-stable. Backed by the codegen'd
    * [[graft.functions.DotProduct]] expression; [[dotViaLambdas]] is
    * the built-in higher-order formulation it replaced (identical
    * semantics, spec-verified bit-for-bit; interpreted per-element, so
    * measurably slower on the 64-dim kernel that q12/q14/q28 evaluate
    * up to 17× per row).
    */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  /** Reference formulation of [[dot]] via built-in higher-order
    * functions — kept as the differential-test baseline. */
  private[graft] def dotViaLambdas(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  private[graft] def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** q12 — similarity search: brute-force cosine top-k of `embeddings`
    * against a probe vector (the north-star ANN baseline; the bucketed
    * scale path is [[SimilarityOps]]).
    *
    * The probe (one row) is broadcast; every partition scores its vectors
    * locally and `orderBy+limit` compiles to `TakeOrderedAndProject` —
    * each partition keeps only its local top-k and the driver merges k
    * rows per partition, NOT a global sort. That shape is exactly what a
    * 1000-executor brute-force scorer should do. Similarity is rounded to
    * 6 dp so rank order and the oracle hash are stable across engines'
    * last-ulp differences.
    */
  def q12SimTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    val probe = emb.filter($"vec_id" === 0).select($"embedding".as("probe"))
    emb.crossJoin(broadcast(probe))
      .withColumn("sim", round(cosine($"embedding", $"probe"), 6))
      .select($"vec_id", $"label", $"sim")
      .orderBy($"sim".desc, $"vec_id")
      .limit(k)
  }

  /** q51 — sequence packing: assign every document a (shard, seq,
    * seq_off) slot in fixed `budget`-token training sequences, the
    * concatenate-then-split packing most LLM data pipelines run as
    * their LAST batch stage (docs are concatenated in a deterministic
    * order and the token stream is cut every `budget` tokens; a doc
    * `crosses` when its tokens span a cut).
    *
    * Packing is a prefix sum, which is inherently sequential — so the
    * corpus is sharded first (`doc_id % shards`) and each shard packs
    * independently: one window partition per shard, each a parallel
    * prefix sum over its own doc-id-ordered slice. Parallelism at
    * 100 TB equals `shards` — a real pipeline picks thousands (one per
    * output file); the fixture uses 8 so each shard still has ~60 docs
    * at sf0.01. The plan is ONE shuffle (hash by shard) + one in-
    * partition sort — no global sort, no driver state; token counts
    * ride as 8-byte longs, text is never shuffled.
    *
    * Emitted per doc: its shard, sequence index, offset inside the
    * sequence, token count, and the boundary-cross flag — integer-only
    * output, so the oracle hash is exact.
    */
  /** Frame-level core of [[q51SeqPack]] over any `(doc_id, text)`
    * frame — [[CorpusPipeline]]'s packing terminal reuses it on the
    * prepared corpus. Unordered output (the query contract adds the
    * sort). */
  private[graft] def seqPack(
      docs: DataFrame, budget: Int, shards: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(shards > 0, s"shards must be positive, got $shards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), (col("doc_id") % shards).as("shard"),
        size(TextOps.toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      // `div`, not `/`: Divide on longs is IEEE double division, which
      // rounds above 2^53 tokens per shard; div stays exact integer
      // arithmetic like pmod and the oracle's `//`
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"start_off div $budget").as("seq"),
        pmod(col("start_off"), lit(budget)).as("seq_off"),
        (pmod(col("start_off"), lit(budget)) + col("n_tokens") > budget)
          .cast("int").as("crosses"))
  }

  def q51SeqPack(
      spark: SparkSession, dir: String,
      budget: Int = 512, shards: Int = 8): DataFrame =
    seqPack(Tables.documents(spark, dir), budget, shards)
      .orderBy(col("doc_id"))

  /** Epoch constant baked into [[q59EpochShuffle]]'s hash — a new epoch
    * value yields an independent, equally-deterministic permutation. */
  val ShuffleEpoch = 1

  /** Shard count for [[q59EpochShuffle]] — a power of two so shards are
    * RANGES of the 60-bit hash (`h >> shift`), which is what lets
    * per-shard ranks + shard offsets reconstruct the GLOBAL hash order
    * exactly. Thousands at 100 TB (like q51's shards). */
  val ShuffleShards = 32

  /** q59 — deterministic EPOCH SHUFFLE: assign every doc its position
    * in a reproducible pseudo-random training order. Training runs need
    * the corpus in "random" order, but the order must be REPRODUCIBLE
    * (resume after preemption, re-run an ablation, cross-engine
    * agreement) and cheap to extend to epoch 2, 3, … — so the
    * permutation key is a content-independent salted hash
    * `h = md5(doc_id:epoch)` (60 bits), NOT `rand()`, exactly the
    * argument q31 makes for sampling (Spark's `orderBy(rand(seed))` is
    * partitioning-dependent; a hash of the id is not).
    *
    * The scale shape is the point: the naive `row_number() OVER
    * (ORDER BY h)` is a SINGLE-partition window — the whole corpus
    * through one task. Instead:
    *
    *   1. shard by the hash's TOP bits (`shard = h >> shift`) — shards
    *      are contiguous hash ranges, so (shard, h) lexicographic IS
    *      the global h order;
    *   2. per-shard ranks: `row_number` over the shard-keyed window —
    *      one hash exchange of (doc_id, h) pairs, `shards`-way
    *      parallel;
    *   3. shard offsets: per-shard counts (a second, column-pruned
    *      narrow pass over doc ids — map-side partials, `shards` longs
    *      to one reducer; the bounded-relation prefix sum is the only
    *      unpartitioned window, over ≤[[ShuffleShards]] rows) broadcast
    *      back;
    *   4. `global_pos = offset + rank − 1` — equal to the global-sort
    *      rank, proven by the spec against a driver-side full sort.
    *
    * Uniformity note: md5's top bits are uniform, so range shards are
    * balanced in expectation with variance ~√(n/shards) — no hot shard
    * by construction, no salting needed. */
  def q59EpochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(spark, dir), ShuffleEpoch, ShuffleShards)
      .orderBy(col("doc_id"))

  /** Frame-level core of [[q59EpochShuffle]] over any `(doc_id, …)`
    * frame. `shards` must be a power of two ≤ 2²⁰ (range sharding of
    * the 60-bit hash). */
  private[graft] def epochShuffle(
      docs: DataFrame, epoch: Int, shards: Int): DataFrame = {
    require(shards > 0 && (shards & (shards - 1)) == 0 && shards <= (1 << 20),
      s"shards must be a power of two in [1, 2^20], got $shards")
    val shift = 60 - Integer.numberOfTrailingZeros(shards)
    import org.apache.spark.sql.expressions.Window
    val h = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit(s":$epoch"))), 1, 15),
      16, 10).cast("long")
    val hashed = docs.select(col("doc_id"), h.as("h"))
      .withColumn("shard", shiftright(col("h"), shift))
    val ranked = hashed.withColumn("rn",
      row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id")))
        .cast("long"))
    val offsets = hashed.groupBy(col("shard")).agg(count(lit(1)).as("n"))
      .withColumn("offset", coalesce(
        sum(col("n")).over(
          Window.orderBy(col("shard"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("shard"), col("offset"))
    ranked.join(broadcast(offsets), "shard")
      .select(col("doc_id"), col("shard"),
        (col("offset") + col("rn") - 1).as("global_pos"))
  }

  /** q60 — SHUFFLED-ORDER sequence packing: the composition of q59 and
    * q51 that a real pipeline actually terminates with. q51 packs docs
    * in `doc_id` order — deterministic, but not the order training
    * consumes them; q59 produces the reproducible pseudo-random
    * training order but packs nothing. The composed operator
    * concatenates the corpus IN EPOCH-SHUFFLE ORDER and cuts
    * fixed-`budget` token sequences, so the pack manifest IS the
    * training order (resume offsets, ablation reruns, and cross-engine
    * agreement all read off `global_pos`/`seq` directly).
    *
    * The scale shape composes too, with NO join between the two
    * stages: the permutation hash h and the token count are computed
    * in the SAME scan projection, and because q59's shards are
    * contiguous RANGES of the hash order, a per-shard token prefix sum
    * (window by shard, ordered by (h, doc_id)) plus broadcast
    * per-shard token offsets reconstructs the GLOBAL concatenation
    * offset exactly — the identical trick q59 plays for ranks, played
    * twice in one window pass (rank + token prefix share one exchange
    * and one sort). The only unpartitioned stage remains the
    * ≤`shards`-row offset prefix sum; text never shuffles (the
    * exchange carries `(doc_id, h, n_tokens)` — 24 bytes/doc).
    *
    * Output is all-integer `(doc_id, shard, global_pos, n_tokens, seq,
    * seq_off, crosses)` with `seq` a GLOBAL sequence index (q51's is
    * per-shard): sequence `s` holds exactly the docs whose global token
    * interval intersects `[s·budget, (s+1)·budget)` in training order.
    */
  def q60ShuffledPack(
      spark: SparkSession, dir: String,
      budget: Int = 512): DataFrame =
    shuffledSeqPack(
      Tables.documents(spark, dir), ShuffleEpoch, ShuffleShards, budget)
      .orderBy(col("doc_id"))

  /** Frame-level core of [[q60ShuffledPack]] over any `(doc_id, text)`
    * frame — [[CorpusPipeline.packShuffled]]'s terminal. Unordered
    * output (the query contract adds the sort). */
  private[graft] def shuffledSeqPack(
      docs: DataFrame, epoch: Int, shards: Int, budget: Int): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(shards > 0 && (shards & (shards - 1)) == 0 && shards <= (1 << 20),
      s"shards must be a power of two in [1, 2^20], got $shards")
    val shift = 60 - Integer.numberOfTrailingZeros(shards)
    import org.apache.spark.sql.expressions.Window
    val h = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit(s":$epoch"))), 1, 15),
      16, 10).cast("long")
    // one scan projection: permutation hash + token count together
    val hashed = docs
      .select(col("doc_id"),
        size(TextOps.toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("h", h)
      .withColumn("shard", shiftright(col("h"), shift))
    // rank + token prefix share one shard-keyed exchange and one sort
    val w = Window.partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    val ranked = hashed
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("tok_prefix", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // bounded offset relation: ≤`shards` rows, rank AND token offsets
    val offsets = hashed.groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("toks"))
      .withColumn("pos_off", coalesce(
        sum(col("n")).over(Window.orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("tok_off", coalesce(
        sum(col("toks")).over(Window.orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("pos_off"), col("tok_off"))
    ranked.join(broadcast(offsets), "shard")
      .withColumn("global_pos", col("pos_off") + col("rn") - 1)
      // `div`, not `/`: q51's exact-integer-division rule
      .withColumn("start_off", col("tok_off") + col("tok_prefix") - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("global_pos"), col("n_tokens"),
        expr(s"start_off div $budget").as("seq"),
        pmod(col("start_off"), lit(budget)).as("seq_off"),
        (pmod(col("start_off"), lit(budget)) + col("n_tokens") > budget)
          .cast("int").as("crosses"))
  }

  /** Ground truth for [[q60ShuffledPack]] — like q59's oracle, the
    * global-sort formulation IS the semantics (one `row_number` and one
    * running token sum over the full hash order), affordable at oracle
    * scale; the sharded reconstruction must equal it row for row. */
  def q60OracleSql(
      epoch: Int = ShuffleEpoch, shards: Int = ShuffleShards,
      budget: Int = 512): String = {
    val shift = 60 - Integer.numberOfTrailingZeros(shards)
    s"""WITH h AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(doc_id::VARCHAR || ':$epoch'), 1, 15))::BIGINT AS h,
       |         len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS n_tokens
       |  FROM documents
       |), o AS (
       |  SELECT doc_id, h >> $shift AS shard, n_tokens,
       |         CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS global_pos,
       |         CAST(sum(n_tokens) OVER (ORDER BY h, doc_id) AS BIGINT) - n_tokens AS start_off
       |  FROM h
       |)
       |SELECT doc_id, shard, global_pos, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       start_off // $budget AS seq,
       |       start_off % $budget AS seq_off,
       |       CASE WHEN start_off % $budget + n_tokens > $budget
       |            THEN 1 ELSE 0 END AS crosses
       |FROM o ORDER BY doc_id""".stripMargin
  }

  /** Ground truth for [[q59EpochShuffle]]: the oracle CAN afford the
    * global-sort `row_number` (oracle scale), so it states the
    * semantics directly — the sharded reconstruction must equal it. */
  def q59OracleSql(epoch: Int = ShuffleEpoch, shards: Int = ShuffleShards): String = {
    val shift = 60 - Integer.numberOfTrailingZeros(shards)
    s"""WITH h AS (
       |  SELECT doc_id,
       |         ('0x' || substr(md5(doc_id::VARCHAR || ':$epoch'), 1, 15))::BIGINT AS h
       |  FROM documents
       |)
       |SELECT doc_id, h >> $shift AS shard,
       |       CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS global_pos
       |FROM h ORDER BY doc_id""".stripMargin
  }

  def q51OracleSql(budget: Int = 512, shards: Int = 8): String =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % $shards AS shard,
       |         len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS n_tokens
       |  FROM documents
       |), c AS (
       |  SELECT doc_id, shard, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
       |              AS BIGINT) - n_tokens AS start_off
       |  FROM t
       |)
       |SELECT doc_id, shard, n_tokens,
       |       start_off // $budget AS seq,
       |       start_off % $budget AS seq_off,
       |       CASE WHEN start_off % $budget + n_tokens > $budget
       |            THEN 1 ELSE 0 END AS crosses
       |FROM c ORDER BY doc_id""".stripMargin

  /** q52 — benchmark decontamination: flag corpus documents sharing
    * any distinct `NgramTokens`-gram with an evaluation set (here the
    * deterministic fixture slice `doc_id % 97 == 0`, standing in for a
    * held-out benchmark suite) — the overlap check every serious
    * training-data pipeline runs before training so test questions
    * don't leak into the corpus.
    *
    * Plan shape for 100 TB: both sides shingle through the single-pass
    * [[graft.functions.HashedShingles]] generator, so the join key is
    * an 8-byte gram hash, never a gram string. The EVAL side is tiny by
    * nature (benchmarks are fixed suites, not corpora) and is
    * `broadcast()` — the corpus side's exploded gram stream is
    * filtered map-side by the broadcast hash join and only MATCHING
    * grams (rare by construction) reach the per-doc aggregate, so the
    * one shuffle carries a near-empty relation. Corpus docs that are
    * themselves eval members are excluded (they'd trivially self-match).
    *
    * Output: contaminated doc ids with the distinct-gram overlap count
    * and how many eval docs they collide with — the triage a pipeline
    * either drops or audits. Counting DISTINCT hashes equals counting
    * distinct grams modulo xxhash64 collisions inside one doc's
    * gram set (~10³ grams → P ≈ 10⁻¹³; the q43-documented acceptance).
    */
  /** Frame-level core of [[q52Decontam]]: overlap report of `docs`
    * against an arbitrary `(doc_id, text)` eval frame (broadcast —
    * benchmark suites are small by nature). [[CorpusPipeline]]'s
    * decontamination gate consumes only the flagged ids. */
  private[graft] def decontamReport(
      docs: DataFrame, evalDocs: DataFrame): DataFrame =
    decontamAgainst(docs, evalGramRel(evalDocs))

  def q52Decontam(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    decontamReport(
      docs.filter($"doc_id" % 97 =!= 0),
      docs.filter($"doc_id" % 97 === 0))
      .orderBy($"doc_id")
  }

  // -------------------------------------------- eval-gram bank (q125)

  /** The distinct `(g, eval_id)` gram-hash relation of an eval suite —
    * ONE definition shared by the in-session report and the persisted
    * bank so the two cannot drift. */
  private def evalGramRel(evalDocs: DataFrame): DataFrame =
    evalDocs.select(col("doc_id").as("eval_id"),
      graft.functions.HashedShingles
        .hashedShingles(col("text"), DedupOps.NgramTokens).as("g"))
      .distinct()

  /** Overlap report of `docs` against an explicit `(g, eval_id)`
    * relation (broadcast — eval suites are small by nature): the core
    * both [[decontamReport]] and [[decontamServed]] reduce to. */
  private def decontamAgainst(
      docs: DataFrame, evalRel: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.HashedShingles
        .hashedShingles(col("text"), DedupOps.NgramTokens).as("g"))
      .join(broadcast(evalRel), "g")
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("g")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))

  /** Persist the EVAL-GRAM BANK — round 17 closes q52's last
    * unversioned dependency: the decontamination gate rebuilt its eval
    * gram set from the raw suite per call, so "which eval-set version
    * was this corpus decontaminated against" (the question every
    * contamination dispute starts with) had no addressable answer.
    * Layout under the shared [[GenerationManifest]] window:
    * `grams/gen=N` `(g, eval_id)` distinct gram-hash rows — bounded by
    * the suite (benchmarks are fixed suites, not corpora), so every
    * generation is one tiny file and serves ride a broadcast. New
    * benchmark releases APPEND a generation ([[appendEvalBank]] —
    * caller owns eval_id disjointness, the inverted-index convention);
    * [[decontamServed]] at `asOfGen` reproduces exactly the screen any
    * historical run applied. */
  def writeEvalBank(evalDocs: DataFrame, path: String): Unit = {
    // coalesce(1): a benchmark suite's distinct grams are thousands of
    // 16-byte rows — one file per generation is the right layout. The
    // bank is NOT a corpus store: feeding a corpus-scale "suite" here
    // would funnel it through one task (and break the serve-side
    // broadcast contract) — screen corpora against each other with the
    // q52/q62 machinery instead.
    evalGramRel(evalDocs).withColumn("gen", lit(1L))
      .coalesce(1)
      .write.partitionBy("gen").mode("overwrite").parquet(s"$path/grams")
    GenerationManifest.commit(path, 1L, 1L,
      wms = Map(1L -> evalIdRange(evalDocs)))
  }

  /** The sealed eval_id range of a suite frame — the bank's `W` record
    * (round 18: the bank was the one generation-windowed store outside
    * the watermark discipline; no idempotency scan reads it today, but
    * the asymmetry made every "which generations seal which suites"
    * question a data scan instead of a manifest read). One tiny agg on
    * a suite-bounded frame; delegates to the protocol's one
    * range-with-EMPTY-sentinel primitive so the convention keeps
    * exactly one home (ADVICE r18). */
  private def evalIdRange(evalDocs: DataFrame): (Long, Long) =
    GenerationManifest.idRange(evalDocs, "doc_id")

  /** Append a new eval-suite release as the next generation
    * (crash-atomic: the write lands outside the committed window, the
    * manifest rename publishes; retries purge debris first). A
    * `(g, eval_id)` pair re-released in a later generation is harmless
    * — the served report aggregates with `countDistinct` on both
    * columns, and [[compactEvalBank]] folds duplicates away — so
    * "disjointness" here is an efficiency convention, not a
    * correctness precondition (unlike the posting/code indexes, where
    * a replayed row double-counts). */
  def appendEvalBank(evalDocs: DataFrame, path: String): Unit = {
    val st0 = GenerationManifest.state(path)
    val (lo, hi) = (st0.lo, st0.hi)
    GenerationManifest.purgeOutside(path, EvalBankRoots, lo, hi)
    evalGramRel(evalDocs).withColumn("gen", lit(hi + 1))
      .coalesce(1)
      .write.partitionBy("gen").mode("append").parquet(s"$path/grams")
    // fenced on the operation-start token (round 19)
    GenerationManifest.amend(path, Some(st0.seq))(s =>
      s.copy(hi = hi + 1, wms = s.wms + ((hi + 1) -> evalIdRange(evalDocs))))
    ()
  }

  /** The eval bank's one artifact root: `(g, eval_id)` gram rows. */
  private val EvalBankRoots = Seq("grams")

  /** Fold the committed window into one generation —
    * [[graft.queries.RetrievalOps.compactIndex]]'s contract for the
    * bank (distinct pairs merge by union). The folded record is the
    * UNION of the per-generation records
    * ([[GenerationManifest.fold]]'s watermark — no data scan), NOT a
    * recount from gram rows: append/write seal SUITE doc_id ranges
    * (including gram-less short docs), and a recount would silently
    * shrink the record across a content-no-op fold. Returns whether it
    * folded. */
  def compactEvalBank(spark: SparkSession, path: String): Boolean =
    GenerationManifest.fold(path, EvalBankRoots) { st =>
      spark.read.parquet(s"$path/grams")
        .filter(col("gen").between(st.lo, st.hi)).drop("gen").distinct()
        .withColumn("gen", lit(st.hi + 1))
        .coalesce(1)
        .write.partitionBy("gen").mode("append").parquet(s"$path/grams")
    }

  /** [[compactEvalBank]]'s growth rule as code (the `compactIfPast`
    * threshold family). */
  def maybeCompactEvalBank(
      spark: SparkSession, path: String, maxGens: Long): Boolean =
    GenerationManifest.compactIfPast(path, maxGens)(
      compactEvalBank(spark, path))

  /** q52's report under the LOADED bank — the deploy step: screen any
    * corpus frame against the eval-gram bank as-of a generation,
    * without the raw suite in hand. */
  def decontamServed(
      docs: DataFrame, bankPath: String,
      asOfGen: Long = Long.MaxValue): DataFrame = {
    val spark = docs.sparkSession
    val (lo, g) = GenerationManifest.windowAt(bankPath, asOfGen)
    decontamAgainst(docs,
      spark.read.parquet(s"$bankPath/grams")
        .filter(col("gen").between(lo, g))
        .select(col("g"), col("eval_id")))
  }

  /** q125 — DECONTAMINATION SERVED from the persisted eval bank: seal
    * half the fixture eval suite as generation 1, APPEND the other
    * half as generation 2 (the new-benchmark-release loop), and screen
    * the corpus at the head. The oracle is [[q52OracleSql]] VERBATIM —
    * hash equality proves write ≡ append ≡ load ≡ screen against the
    * in-session report over the whole suite (the q118/q120 theorem for
    * the decontamination gate). EAGER, q114 temp-dir convention. */
  def q125DecontamServed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val path = SimilarityOps.tempIndexDir("graft-eval-bank")
    val docs = Tables.documents(spark, dir)
    val eval = docs.filter($"doc_id" % 97 === 0)
    writeEvalBank(eval.filter($"doc_id" % 2 === 0), path)
    appendEvalBank(eval.filter($"doc_id" % 2 =!= 0), path)
    decontamServed(docs.filter($"doc_id" % 97 =!= 0), path)
      .orderBy($"doc_id")
  }

  def q52OracleSql: String = {
    val k = DedupOps.NgramTokens
    val gram = (1 to k)
      .map(j => s"toks[i${if (j == 1) "" else s" + ${j - 1}"}]")
      .mkString(" || ' ' || ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(
       |           generate_series(1, greatest(len(toks) - ${k - 1}, 0)),
       |           i -> $gram)) AS gs
       |  FROM (SELECT doc_id,
       |               list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS toks
       |        FROM documents)
       |), ev AS (SELECT doc_id AS eval_id, unnest(gs) AS g FROM t WHERE doc_id % 97 = 0),
       |   corpus AS (SELECT doc_id, unnest(gs) AS g FROM t WHERE doc_id % 97 <> 0)
       |SELECT c.doc_id, count(DISTINCT c.g) AS n_shared,
       |       count(DISTINCT e.eval_id) AS n_eval_docs
       |FROM corpus c JOIN ev e ON c.g = e.g
       |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q64

  /** Target mixture WEIGHTS per source for [[q64MixtureBalance]] —
    * integers (shares are `w / Σw`) so both engines derive rates from
    * the same constants with no float in between. Unlisted sources get
    * [[DefaultMixWeight]]. The shape models mixture COMPOSITION: a few
    * premium sources upweighted over a long uniform tail. */
  val MixWeights: Seq[(String, Int)] =
    Seq("src0" -> 6, "src1" -> 4, "src2" -> 4, "src3" -> 2)
  val DefaultMixWeight = 1

  /** q64 — mixture REBALANCE with DERIVED keep rates: q41's stratified
    * sampler with the per-stratum rates computed FROM the corpus
    * instead of fixed. Given target weights `w_s` (share `w_s / W`),
    * the largest corpus achievable without upsampling is
    * `T = min_s floor(n_s · W / w_s)` (the scarcest source relative to
    * its target binds), from which each source's keep rate in per-mille
    * is `rate_s = floor(T · w_s · 1000 / (W · n_s))` — the premium
    * sources keep everything, the tail downsamples to proportion. This
    * is the "data mixture" step a training pipeline runs when composing
    * a corpus from crawls of very different sizes.
    *
    * Exactness: every quantity is integer end to end — counts, weight
    * sums, and truncating integer division (`div` here, `//` in the
    * oracle; all operands positive, so truncation = floor). Intermediate
    * products are bounded by `T · w · 1000 ≤ n_max · W · 1000` —
    * long-safe past 10¹⁴ docs, and ANSI mode throws rather than wraps
    * beyond that.
    *
    * Plan shape for 100 TB: ONE pass over the corpus builds the
    * (source, hash-bucket) histogram — a map-side-combined aggregate to
    * ≤ |sources| × 1000 rows — and EVERYTHING else (totals, `W`, `T`,
    * rates, kept counts) is arithmetic on that bounded relation; the
    * corpus is never scanned again, nothing reaches the driver. The
    * single-partition windows run over the already-aggregated
    * alphabet-sized frame (the q08 discipline). The kept count per
    * source equals exactly what filtering the corpus on
    * `hash(text) mod 1000 < rate_s` would keep, because the histogram
    * is keyed on that very hash — the filter predicate any downstream
    * stage can apply independently (q41's `stratifiedKeep` machinery).
    */
  def q64MixtureBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byBucket = Tables.documents(spark, dir)
      .groupBy($"source",
        RelationalOps.contentHashMod(RelationalOps.PerMille).as("hb"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rates = deriveRates(
      byBucket.groupBy($"source").agg(sum($"cnt").as("n_total")),
      MixWeights, DefaultMixWeight)
    rates.join(byBucket, Seq("source"))
      .groupBy($"source", $"n_total", $"rate_pm")
      .agg(sum(when($"hb" < $"rate_pm", $"cnt").otherwise(lit(0L))).as("n_kept"))
      .select($"source", $"n_total", $"rate_pm", $"n_kept")
      .orderBy($"source")
  }

  /** The DERIVED-RATE half of [[q64MixtureBalance]] as a reusable
    * stage: per-source keep rates `(source, rate_pm)` from the
    * corpus's own composition — the piece [[CorpusPipeline]] threads
    * in when a run rebalances to target weights instead of q41's
    * fixed per-language rates. Same integer arithmetic as q64
    * (`T = min_s floor(n_s·W/w_s)`, `rate_s = floor(T·w_s·1000 /
    * (W·n_s))`), but over a plain per-source count — the caller that
    * wants kept counts WITHOUT scanning again uses q64's bucketed
    * histogram; a caller about to FILTER the corpus anyway (the
    * pipeline) needs only the rates, one map-side-combined aggregate
    * to |sources| rows, windows over that alphabet-sized frame. The
    * filter to apply is `contentHashMod(PerMille) < rate_pm` — the
    * exact predicate q64's kept-count arithmetic models, so pipeline
    * kept counts close over q64's numbers (spec-pinned). */
  def mixtureRates(
      docs: DataFrame,
      weights: Seq[(String, Int)] = MixWeights,
      defaultWeight: Int = DefaultMixWeight): DataFrame =
    deriveRates(
      docs.groupBy(col("source")).agg(count(lit(1)).as("n_total")),
      weights, defaultWeight)
      .select(col("source"), col("rate_pm"))

  /** The ONE copy of the rate APPLICATION — the join+predicate shape
    * that keeps the batch rebalance ([[CorpusPipeline]] stage 4) and
    * the streaming gate ([[graft.streaming.CorpusStream.mixtureGate]])
    * keeping byte-identical sets: left-outer on `source` (the rates
    * relation is bounded by the source alphabet but derives from a
    * corpus aggregate, so the broadcast hint must be explicit — the
    * q52 rule), then `contentHashMod(PerMille) < rate_pm` with NULL
    * or ABSENT sources defaulting to full keep (1000‰) — an unknown
    * source admits until the next rates refresh, and a null source
    * behaves as unknown in BOTH layers rather than silently diverging
    * (a null equi-key matches nothing, so an inner join would drop it
    * batch-side while the stream admitted it). */
  def applyMixtureRates(docs: DataFrame, rates: DataFrame): DataFrame =
    docs
      .join(broadcast(rates.select(col("source"), col("rate_pm"))),
        Seq("source"), "left_outer")
      .filter(RelationalOps.contentHashMod(RelationalOps.PerMille)
        < coalesce(col("rate_pm"), lit(1000L)))
      .drop("rate_pm")

  /** The ONE copy of the derived-rate arithmetic (`W`, `T = min_s
    * floor(n_s·W/w_s)`, `rate_s = floor(T·w_s·1000/(W·n_s))` capped
    * at 1000) over an aggregated `(source, n_total)` frame — q64 and
    * [[mixtureRates]] both route through here, so the pipeline's
    * kept-set closure over q64's numbers cannot drift out of sync.
    * Weights must be strictly positive: a zero weight would divide by
    * zero inside `t_max` (NULL under non-ANSI sessions, silently
    * ignored by the window min — a source wiped with no error). */
  private def deriveRates(
      bySource: DataFrame,
      weights: Seq[(String, Int)],
      defaultWeight: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(defaultWeight > 0, s"defaultWeight must be > 0, got $defaultWeight")
    weights.foreach { case (s, w) =>
      require(w > 0, s"mixture weight for '$s' must be > 0, got $w") }
    val wExpr = weights.reverse.foldLeft(lit(defaultWeight)) {
      case (acc, (s, w)) => when(col("source") === s, lit(w)).otherwise(acc)
    }
    val all = Window.partitionBy(lit(1))
    bySource
      .withColumn("w", wExpr.cast("long"))
      .withColumn("w_sum", sum(col("w")).over(all))
      .withColumn("t_max", min(expr("n_total * w_sum div w")).over(all))
      .withColumn("rate_pm", least(lit(1000L),
        expr("t_max * w * 1000 div (w_sum * n_total)")))
  }

  /** Oracle: the same histogram → W/T → rates → kept-count arithmetic
    * in DuckDB, generated from the same weight constants; HUGEINT
    * intermediates cast back to BIGINT at every output column. */
  def q64OracleSql: String = {
    val cases = MixWeights
      .map { case (s, w) => s"WHEN source = '$s' THEN $w" }.mkString(" ")
    val hashPm = RelationalOps.contentHashModSql(RelationalOps.PerMille)
    s"""WITH c AS (
       |  SELECT source, $hashPm AS hb, count(*) AS cnt
       |  FROM documents GROUP BY 1, 2
       |), t AS (
       |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_total,
       |         CAST(CASE $cases ELSE $DefaultMixWeight END AS BIGINT) AS w
       |  FROM c GROUP BY source
       |), g1 AS (
       |  SELECT *, CAST(sum(w) OVER () AS BIGINT) AS w_sum FROM t
       |), g2 AS (
       |  SELECT *, min(n_total * w_sum // w) OVER () AS t_max FROM g1
       |), r AS (
       |  SELECT source, n_total,
       |         CAST(least(1000, t_max * w * 1000 // (w_sum * n_total))
       |              AS BIGINT) AS rate_pm
       |  FROM g2
       |)
       |SELECT r.source, r.n_total, r.rate_pm,
       |       CAST(sum(CASE WHEN c.hb < r.rate_pm THEN c.cnt ELSE 0 END)
       |            AS BIGINT) AS n_kept
       |FROM r JOIN c ON r.source = c.source
       |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- q99

  /** Deterministic two-snapshot synthesis for [[q99SnapshotDiff]]:
    * v1 = `doc_id % V1Mod ≠ 0`, v2 = `doc_id % V2Mod ≠ 0` with docs at
    * `doc_id % RevMod == 0` carrying revised text (`" rev2"` appended)
    * — both engines derive the versions from these constants, giving
    * all four statuses non-vacuously on the fixture. */
  val V1Mod = 5
  val V2Mod = 7
  val RevMod = 11

  /** q99 — SNAPSHOT DIFF: the dataset-versioning audit between two
    * corpus generations — per (source, status) counts of `added`
    * (v2 only), `removed` (v1 only), `changed` (both, content
    * differs), `unchanged`. A pipeline runs this before promoting a
    * rebuilt corpus: an unexpected `removed` spike means a source went
    * dark, a `changed` spike means an extractor changed behavior —
    * the regression signals a 100 TB rebuild needs BEFORE training
    * sees the data.
    *
    * Scale shape: each snapshot scan reduces to `(doc_id, h, source)`
    * with `h = xxhash64(text)` computed scan-side — the FULL OUTER
    * join shuffles 24-byte rows on doc_id, text never crosses the
    * wire; the status projection is codegen'd and the rollup is an
    * alphabet-sized aggregate. Content equality is hash-grain (q43's
    * documented 2⁻⁶⁴ acceptance; the oracle compares the strings
    * themselves). */
  def q99SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val v1 = docs.filter($"doc_id" % V1Mod =!= 0)
      .select($"doc_id", xxhash64($"text").as("h1"), $"source".as("src1"))
    val v2 = docs.filter($"doc_id" % V2Mod =!= 0)
      .select($"doc_id",
        xxhash64(when($"doc_id" % RevMod === 0,
          concat($"text", lit(" rev2"))).otherwise($"text")).as("h2"),
        $"source".as("src2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(
        coalesce($"src1", $"src2").as("source"),
        when($"h2".isNull, lit("removed"))
          .when($"h1".isNull, lit("added"))
          .when($"h1" =!= $"h2", lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .groupBy($"source", $"status")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"source", $"status")
  }

  /** Ground truth for [[q99SnapshotDiff]]: the same version constants,
    * content compared as STRINGS. */
  def q99OracleSql: String =
    s"""WITH v1 AS (
       |  SELECT doc_id, text AS t1, source AS src1 FROM documents
       |  WHERE doc_id % $V1Mod <> 0
       |), v2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % $RevMod = 0 THEN text || ' rev2'
       |              ELSE text END AS t2,
       |         source AS src2
       |  FROM documents WHERE doc_id % $V2Mod <> 0
       |)
       |SELECT coalesce(src1, src2) AS source,
       |       CASE WHEN t2 IS NULL THEN 'removed'
       |            WHEN t1 IS NULL THEN 'added'
       |            WHEN t1 <> t2 THEN 'changed'
       |            ELSE 'unchanged' END AS status,
       |       count(*) AS n_docs
       |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
