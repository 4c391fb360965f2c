package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions._
import graft.index.IndexStore
import graft.tables.Tables

/** Training-batch preparation over the `documents` corpus — the stage
  * between a curated corpus and a tokenized training run: sequence
  * packing, context-window chunking, vocabulary construction,
  * corpus-frequency quality scoring, and domain rebalancing.
  *
  * Scale design per operator:
  *  - '''sequence packing''' ([[sequencePack]]): GPT-style
  *    concat-then-chunk. Documents are ordered within independent pack
  *    shards and assigned to fixed-budget sequences by a prefix-sum
  *    window — one shuffle on (shard), no driver loop, no stateful scan.
  *    Shards are the scale-out axis: each packs independently, so 1000
  *    executors pack 1000 streams. A document whose tokens straddle a
  *    sequence boundary overflows into the next sequence (the standard
  *    concat-then-chunk semantics — attention masks or truncation handle
  *    the seam at training time).
  *  - '''context chunking''' ([[tokenChunks]]): per-document overlapping
  *    token windows via `sequence` + `explode` + `slice` — pure per-row
  *    generators, embarrassingly parallel, no shuffle at all.
  *  - '''vocabulary''' ([[vocabTopK]]): token counts partial-aggregate
  *    map-side; the global top-K runs as sort+limit
  *    (TakeOrderedAndProject — bounded driver/exchange cost), and only
  *    the K surviving rows pass through the id-assigning window, so the
  *    single-partition window is O(K), never corpus-wide.
  *  - '''rare-token scoring''' ([[rareTokenRatio]]): the unigram-LM
  *    quality proxy kept integer-exact: a token is "rare" when its
  *    corpus frequency is below a cutoff, and the per-document score is
  *    a count ratio (one final division) — deterministic across engines
  *    and partitionings, unlike a floating log-prob sum whose addition
  *    order varies with the shuffle.
  *  - '''domain rebalancing''' ([[domainRebalance]]): per-source keep
  *    rates derived from the smallest source, applied as a portable
  *    md5-bucket threshold (the [[TextStats.splitBucket]] mechanism —
  *    reshuffle-stable, never `rand()`). The per-source threshold table
  *    is O(#domains) and broadcast; the corpus side is one narrow pass.
  */
object TrainPrep {

  // --- sequence packing ---

  /** Tokens per packed training sequence (the context budget). */
  val PackBudget = 256

  /** Independent packing streams. SIZING RULE: each shard is one
    * window partition holding N/shards docs, so pick shards ≥ a few ×
    * total executor cores AND large enough that N/shards rows fit one
    * task (at 100 TB, thousands — the mechanics are shard-count-
    * agnostic, spec'd in TrainPrepSpec: any shard count yields valid
    * budget-respecting contiguous packings; the shard axis is part of
    * the output contract, so a chosen count is pinned per corpus). */
  val PackShards = 4

  /** (doc_id, shard, n_tokens, seq_id, tok_offset) — each document's
    * packed sequence and its token offset within it. Within a shard,
    * documents concatenate in doc_id order; sequence k holds tokens
    * [k·budget, (k+1)·budget). Integer arithmetic throughout (window
    * prefix-sum of token counts), so the assignment is engine-exact. */
  def sequencePack(docs: DataFrame, budget: Int = PackBudget,
                   shards: Int = PackShards): DataFrame =
    sequencePackCounts(
      docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens")),
      budget, shards)

  /** The packing core over a pre-counted (doc_id, n_tokens) frame —
    * lets pipelines that already carry token counts (e.g. the curated
    * emit's `n_after`) pack without re-tokenizing. */
  def sequencePackCounts(counts: DataFrame, budget: Int = PackBudget,
                         shards: Int = PackShards): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts
      .select(col("doc_id"), pmod(col("doc_id"), lit(shards.toLong)).as("shard"),
        col("n_tokens"))
      .withColumn("_prefix", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"_prefix div $budget").as("seq_id"),
        (col("_prefix") % budget).as("tok_offset"))
  }

  def qSeqPack(spark: SparkSession, dir: String): DataFrame =
    sequencePack(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // --- context-window chunking ---

  /** Context window length (tokens) and stride (window − overlap). */
  val ChunkWindow = 64
  val ChunkStride = 48

  /** One row per (document, context window): overlapping token chunks
    * covering the whole document — chunk i spans tokens
    * [i·stride, i·stride + window). The chunk count
    * 1 + ⌈(n − window)/stride⌉ guarantees the final chunk reaches the
    * last token. Pure per-row generation (`sequence` → `explode` →
    * `slice`): no shuffle, scales with the scan. */
  def tokenChunks(docs: DataFrame, window: Int = ChunkWindow,
                  stride: Int = ChunkStride): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("_t"))
      .select(col("doc_id"), col("_t"), size(col("_t")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("_nc", when(col("n_tokens") <= window, lit(1))
        .otherwise(expr(s"1 + (n_tokens - $window + ${stride - 1}) div $stride")))
      .select(col("doc_id"), col("n_tokens"), col("_t"),
        explode(sequence(lit(0), col("_nc") - 1)).as("_i"))
      .select(col("doc_id"), col("_i").cast("long").as("chunk_id"),
        col("n_tokens"),
        slice(col("_t"), col("_i") * stride + 1, lit(window)).as("_c"))
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        size(col("_c")).as("n_chunk_tokens"),
        concat_ws(" ", col("_c")).as("chunk_text"))

  def qTokenChunks(spark: SparkSession, dir: String): DataFrame =
    tokenChunks(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("chunk_id"))

  // --- content-defined chunking ---

  /** CDC marker divisor: a token ends its chunk when
    * `md5₆₀("cdc:" ++ token) % CdcDivisor == 0`, so chunks average
    * [[CdcDivisor]] tokens. */
  val CdcDivisor = 16

  /** Content-defined chunking — [[tokenChunks]]' variable-length
    * sibling: chunk boundaries are CONTENT markers (a token whose
    * salted 60-bit hash is ≡ 0 mod [[CdcDivisor]] ends its chunk),
    * not fixed offsets. The property fixed windows can't give:
    * inserting or deleting a sentence re-chunks ONLY the chunk it
    * lands in — every other chunk keeps its byte-identical text and
    * fingerprint (spec-pinned), which is what makes CDC the standard
    * segmentation for dedup across near-identical long documents
    * (boilerplate-wrapped crawls, versioned wiki/code files): shared
    * runs keep producing the SAME chunk fingerprints no matter how
    * the surrounding offsets moved.
    *
    * Classic CDC (LBFS, FastCDC) hashes a sliding byte window; a
    * single-token marker is the same mechanism at word granularity
    * and keeps both engines' replay exact (the md5-60 helper the
    * bucket gates already share). No min/max chunk clamps — the
    * geometric length distribution is the documented contract.
    *
    * Plan (100 TB): ONE doc-keyed exchange carries everything — the
    * positional explode shuffles to doc_id clustering, the boundary
    * cumsum is a per-doc window (bounded by document length, never
    * corpus-wide), and the chunk re-assembly groups on (doc_id,
    * chunk_id) — a prefix of the clustering already in place, so no
    * second shuffle. Chunk text re-assembles via sort_array over the
    * collected (pos, tok) structs — engine-exact ordering, no
    * collect_list order assumption.
    *
    * Output: (doc_id, chunk_id, n_tokens, fp, chunk_text) — fp is the
    * salted 60-bit fingerprint of the chunk text, the dedup key
    * [[cdcSharedChunks]] joins on. */
  def cdcChunks(docs: DataFrame, divisor: Int = CdcDivisor): DataFrame = {
    val tok = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tok
      .withColumn("m",
        (md5Bits60(concat(lit("cdc:"), col("tok"))) % divisor === 0)
          .cast("int"))
      .withColumn("chunk_id",
        coalesce(sum(col("m")).over(w), lit(0)).cast("long"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("chunk_text"))
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        md5Bits60(concat(lit("cdcfp:"), col("chunk_text"))).as("fp"),
        col("chunk_text"))
  }

  def qCdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Cross-document shared-chunk readout: every CDC chunk fingerprint
    * appearing in ≥ 2 distinct documents, with its document and
    * occurrence counts — the chunk-granular dup signal (which
    * boilerplate runs, license blocks, navigation footers recur
    * across the corpus) that document-level dedup can't see when the
    * surrounding text differs. One aggregate on the fingerprint key
    * over [[cdcChunks]]' output; at 100 TB this is a count-distinct
    * per fp — partial-aggregable, no corpus-wide anything. */
  def cdcSharedChunks(docs: DataFrame, divisor: Int = CdcDivisor): DataFrame =
    cdcChunks(docs, divisor)
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") >= 2)

  def qCdcShared(spark: SparkSession, dir: String): DataFrame =
    cdcSharedChunks(Tables.documents(spark, dir)).orderBy(col("fp"))

  /** Hot-fingerprint guard for [[cdcContainmentPairs]]: a chunk
    * fingerprint carried by more than this many documents is treated
    * as boilerplate (that is [[cdcSharedChunks]]' report, not a dup
    * signal) and generates NO pairs — the same reason the MinHash
    * band join caps hot buckets: pair volume within one fp is
    * quadratic in its document count, and a license block shared by
    * 10⁷ docs must not emit 10¹⁴ pairs. */
  val CdcMaxFpDocs = 8

  /** Minimum shared-chunk count and containment fraction for a pair
    * to surface. */
  val CdcMinShared = 2
  val CdcMinContainment = 0.5

  /** Document-level near-dup detection over CDC chunks — the chunking
    * put to its dedup use: two documents pair when they share ≥
    * `minShared` distinct chunk fingerprints covering ≥
    * `minContainment` of the SMALLER document's chunks (containment,
    * not Jaccard — a short doc embedded whole in a long one scores 1.0
    * on the short side, the quote/mirror case Jaccard dilutes). CDC
    * boundaries make this robust to insertions: unlike fixed windows,
    * the shared run keeps identical fingerprints however the
    * surrounding offsets moved.
    *
    * Plan (100 TB): an inverted fp → doc index (distinct per doc),
    * per-fp document counts gate out singletons AND hot boilerplate
    * fps ([[CdcMaxFpDocs]] — those are [[cdcSharedChunks]]' report),
    * the self-join runs only within surviving fp groups (pair volume
    * ≤ maxFpDocs · |index|, never quadratic in the corpus), and the
    * pair aggregate + two bounded per-doc-count joins ride doc keys.
    * The id inequality (`doc_a < doc_b`) canonicalizes pairs.
    *
    * Output: (doc_a, doc_b, n_shared, n_a, n_b, containment). */
  def cdcContainmentPairs(docs: DataFrame, divisor: Int = CdcDivisor,
                          maxFpDocs: Int = CdcMaxFpDocs,
                          minShared: Int = CdcMinShared,
                          minContainment: Double = CdcMinContainment): DataFrame = {
    val chunks = cdcChunks(docs, divisor)
    val fpDocs = chunks.select(col("doc_id"), col("fp")).distinct()
    val perDoc = fpDocs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    val liveFps = fpDocs.groupBy(col("fp"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2 && col("nd") <= maxFpDocs)
      .select(col("fp"))
    val rare = fpDocs.join(liveFps, Seq("fp"))
    val pairs = rare.select(col("fp"), col("doc_id").as("doc_a"))
      .join(rare.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(perDoc.select(col("doc_id").as("doc_a"), col("n_chunks").as("n_a")),
        Seq("doc_a"))
      .join(perDoc.select(col("doc_id").as("doc_b"), col("n_chunks").as("n_b")),
        Seq("doc_b"))
      .withColumn("containment", col("n_shared").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("n_shared") >= minShared &&
        col("containment") >= minContainment)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("containment"))
  }

  def qCdcContainment(spark: SparkSession, dir: String): DataFrame =
    cdcContainmentPairs(Tables.documents(spark, dir))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Live CDC chunking of an arriving document stream with a FROZEN
    * boilerplate index: each micro-batch chunks via the IDENTICAL
    * batch code and anti-joins away chunks whose fingerprint sits in
    * `bannedFps` (typically a persisted [[cdcSharedChunks]] readout
    * from the standing corpus — the recurring license blocks and
    * navigation footers). A document's chunking depends only on its
    * own text and the frozen index, so stateless `foreachBatch` is
    * exactly right (the [[CorpusFilters.streamingNbAdmission]] /
    * `TextDedup.streamingNearDup` reasoning); the spec pins streamed
    * ≡ batch under any batch slicing. */
  def streamingCdcAdmission(streamDocs: DataFrame, bannedFps: DataFrame,
                            divisor: Int = CdcDivisor,
                            checkpoint: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val banned = bannedFps.select(col("fp"))
    val writer = streamDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(cdcChunks(batch, divisor).join(banned, Seq("fp"), "left_anti"), id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
  }

  // --- persisted CDC boilerplate-index lifecycle ---

  /** Per-fingerprint chunk statistics WITHOUT [[cdcSharedChunks]]'
    * ≥ 2-docs filter — the MERGEABLE form the persisted index stores.
    * Appends land new-document batches whose doc-id sets are disjoint
    * from the standing corpus (the [[TextDedup.appendDedupIndex]]
    * contract: new documents get new ids), so per-batch
    * `countDistinct` rows SUM to the union's count, `n_occurrences`
    * sums, and `n_tokens` merges by min — whereas a pre-filtered
    * readout is not appendable at all (a standing singleton fp that
    * crosses the 2-doc threshold only WITH the increment is absent
    * from both sides' filtered rows). */
  def cdcFpStats(docs: DataFrame, divisor: Int = CdcDivisor): DataFrame =
    cdcChunks(docs, divisor)
      .groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("n_tokens")).as("n_tokens"))

  /** Persist the CDC boilerplate index as a standing parquet layout —
    * the [[TextDedup.writeDedupIndex]] treatment applied to the CDC
    * side, closing the lifecycle asymmetry where the MinHash index was
    * versioned/appendable but [[streamingCdcAdmission]]'s `bannedFps`
    * had to be re-derived from the raw corpus per snapshot. Layout:
    * one `fps/` table ([[cdcFpStats]]' unfiltered per-fp rows) under a
    * committed `v<NNNNNN>/` directory with the same atomic
    * `_COMMITTED` marker, resolver, and crash-window sweep as the
    * dedup index ([[graft.index.IndexStore.installIndexVersion]]).
    * Fp batches land identity-addressed under `fps/batch=<tag>/`
    * ([[graft.index.IndexStore.landIdentityBatch]]: replay-idempotent
    * via the per-dir _SUCCESS probe plus the `_batches` manifest that
    * survives compaction). Built ONCE per corpus snapshot; every
    * probe batch and streaming gate then reads the O(|distinct fps|)
    * table instead of re-chunking 100 TB of standing text. */
  def writeCdcIndex(docs: DataFrame, path: String,
                    divisor: Int = CdcDivisor): Unit = {
    IndexStore.installIndexVersion(docs.sparkSession, path) { dir =>
      IndexStore.landIdentityBatch(cdcFpStats(docs, divisor), s"$dir/fps",
        IndexStore.identityBatchTag(docs, "doc_id"))
    }
  }

  /** Append an increment's fp statistics to the standing CDC index:
    * chunking runs ONLY over `newDocs`, and their per-fp rows land as
    * a new identity-addressed batch directory inside the current
    * committed version's `fps/` — the standing rows are never
    * rewritten or re-read. A fp present in both sides
    * temporarily holds two rows; every reader goes through
    * [[cdcIndexStats]]' merge, so answers are unchanged.
    * [[compactCdcIndex]] merges the rows away physically. Crash
    * contract: REPLAY-IDEMPOTENT — a replayed append whose first
    * attempt committed is a no-op (its batch directory already carries
    * _SUCCESS; spec-pinned: append twice ≡ append once), and one that
    * died mid-write rewrites only its own directory — so recovery from
    * any died append is simply running it again. */
  def appendCdcIndex(spark: SparkSession, path: String, newDocs: DataFrame,
                     divisor: Int = CdcDivisor): Unit = {
    val live = IndexStore.currentIndexDir(spark, path)
    IndexStore.landIdentityBatch(cdcFpStats(newDocs, divisor), s"$live/fps",
      IndexStore.identityBatchTag(newDocs, "doc_id"))
  }

  /** Land a TOMBSTONE batch against the standing CDC index — the
    * delete half for takedowns. The per-fp stats are pre-aggregated
    * WITHOUT doc ids, so a document's contribution can only be
    * re-derived from its text: the caller passes the takedown
    * documents themselves (same frame shape as an append), their text
    * re-chunks, and the stats land NEGATED —
    * (fp, −n_docs, −n_occurrences, n_tokens) — under an
    * identity-addressed `fps/batch=del_<tag>/` dir. The `del_` prefix
    * matters: a takedown of exactly one earlier append batch's
    * documents would otherwise reproduce that batch's id-derived tag
    * and be skipped as already landed. [[cdcIndexStats]]' sum merge
    * subtracts the contribution EXACTLY (disjoint-batch n_docs sums,
    * and n_tokens is constant per fp — same fp ⟹ same chunk text —
    * so the min is neutral), so every reader masks IMMEDIATELY;
    * [[compactCdcIndex]] applies physically (zero-count fps dropped).
    *
    * Deletes are SET-SEMANTIC, not additive: because the landed stats
    * are negated COUNTS, a doc re-submitted in a second overlapping
    * takedown batch (operators routinely submit cumulative lists —
    * {A} then {A, B}) would double-subtract its contribution,
    * silently corrupting merged counts for fps still carried by live
    * docs. So every takedown doc id is also recorded in a
    * `deleted_ids/` ledger (carried across compacts like the dedup
    * family's tombstones), the incoming batch
    * de-duplicates internally and anti-joins the ledger, and only the
    * FRESH docs' stats land. The stats batch lands BEFORE the ledger
    * batch: a crash between the two replays safely (the ledger still
    * lacks the ids, so the retry recomputes the same fresh set and
    * the identity-addressed stats dir makes the re-land a no-op),
    * whereas the opposite order would drop the stats forever.
    * Replay-idempotent like every landing — a replayed takedown is
    * now a no-op by the anti-join alone. The remaining caller
    * contract (the dedup family's deleted-stays-deleted): deleting a
    * document that was never appended, or RE-APPENDING a deleted doc
    * id, drives counts wrong — [[cdcIndexStats]] floors the readout
    * at absent rather than surfacing a negative row. */
  def deleteCdcIndex(spark: SparkSession, path: String, docs: DataFrame,
                     divisor: Int = CdcDivisor): Unit = {
    val live = IndexStore.currentIndexDir(spark, path)
    // persisted (and released below): THREE consumers — the identity
    // tag aggregate, the negated-stats landing and the id-ledger
    // landing — each re-ran the dropDuplicates exchange over the full
    // TEXT column of the takedown slice plus the ledger anti-join
    // (guide §5: reuse the expensive intermediate; the persist is
    // operator-scoped, built and unpersisted inside this call)
    val fresh = IndexStore.withoutIdsIn(docs.dropDuplicates("doc_id"),
        s"$live/deleted_ids", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the identity tag's n<count>_ prefix doubles as the emptiness
      // check — one action instead of an isEmpty job + a tag job
      val idTag = IndexStore.identityBatchTag(fresh, "doc_id")
      if (!idTag.startsWith("n0_")) {
        val tag = s"del_$idTag"
        IndexStore.landIdentityBatch(
          cdcFpStats(fresh, divisor)
            .select(col("fp"), (-col("n_docs")).as("n_docs"),
              (-col("n_occurrences")).as("n_occurrences"), col("n_tokens")),
          s"$live/fps", tag)
        IndexStore.landIdentityBatch(fresh.select(col("doc_id")),
          s"$live/deleted_ids", tag)
      }
    } finally { fresh.unpersist(); () }
  }

  /** The merged per-fp statistics of a standing CDC index — the
    * single read-side resolution point (sums the disjoint-batch rows
    * appends accumulate and SUBTRACTS landed tombstone rows; see
    * [[cdcFpStats]] for why the merge is exact and [[deleteCdcIndex]]
    * for the negation). Fully-deleted fps (merged count 0) read as
    * absent. */
  def cdcIndexStats(spark: SparkSession, path: String): DataFrame = {
    spark.read
      .parquet(s"${IndexStore.currentIndexDir(spark, path)}/fps")
      // the batch partition column is landing provenance, not data
      .select(col("fp"), col("n_docs"), col("n_occurrences"),
        col("n_tokens"))
      .groupBy(col("fp"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_occurrences")).as("n_occurrences"),
        min(col("n_tokens")).as("n_tokens"))
      .filter(col("n_docs") > 0)
  }

  /** The boilerplate readout of a standing index: fps carried by
    * ≥ `minDocs` documents — [[cdcSharedChunks]]' answer served from
    * the landed snapshot, and the `bannedFps` frame
    * [[streamingCdcAdmission]] wants. */
  def cdcIndexBoilerplate(spark: SparkSession, path: String,
                          minDocs: Long = 2L): DataFrame =
    cdcIndexStats(spark, path).filter(col("n_docs") >= minDocs)

  /** Compact a standing CDC index: merge the duplicate per-fp rows
    * repeated appends accumulate and install the result as one atomic
    * new version — afterwards the layout is row-equivalent to a fresh
    * [[writeCdcIndex]] over the union corpus (spec-pinned), and
    * compact∘compact ≡ compact. The landed-batch MANIFEST carries
    * forward into the new version (landed tags ∪ its own "compacted"
    * row), so a replayed append whose first attempt committed before
    * this compact is STILL a no-op afterwards — without the carry, the
    * replay would land as a fresh batch dir (its identity dir was
    * physically merged away) and silently double-count
    * n_docs/n_occurrences. The manifest lands inside the
    * installIndexVersion block, i.e. BEFORE the _COMMITTED marker, so
    * the carry is covered by the same atomic commit as the data. */
  def compactCdcIndex(spark: SparkSession, path: String): Unit = {
    // reads the CURRENT version, writes the NEXT — never in-place
    // (installIndexVersion's sweep retains the version being read)
    val live = IndexStore.currentIndexDir(spark, path)
    val deleted = IndexStore.idsIn(spark, s"$live/deleted_ids", "doc_id")
    IndexStore.installIndexVersion(spark, path) { dir =>
      IndexStore.landCompacted(cdcIndexStats(spark, path), s"$live/fps",
        s"$dir/fps")
      // the deleted-doc-id ledger carries across versions
      // (deleted-stays-deleted, the dedup-family retention): without
      // the carry, a post-compact re-submission of an old takedown
      // list would re-subtract docs whose stats the compact already
      // dropped
      deleted.foreach(IndexStore.landIdentityBatch(_, s"$dir/deleted_ids",
        "compacted"))
    }
  }

  /** Harness entry for the full CDC-index lifecycle: build on the odd
    * standing half, append the even half, compact, then admit the 10%
    * increment against the landed boilerplate (chunks whose fp the
    * standing index saw in ≥ 2 documents are dropped). The oracle
    * re-derives end-to-end from the raw corpus — persistence, append
    * and compaction must all be answer-invariant. */
  /** The takedown slice of [[qCdcDeleted]] — standing docs with
    * doc_id ≡ [[CdcDeleteRem]] (mod [[CdcDeleteMod]]), cutting across
    * both the build and the append halves; sized so that fps actually
    * fall UNDER the 2-doc threshold at sf0.01 (the gate admits 3 more
    * probe chunks than [[qCdcPersisted]] — the delete is exercised,
    * not vacuous). */
  val CdcDeleteMod = 3
  val CdcDeleteRem = 1

  /** Harness entry: build(odd standing) + append(even) + DELETE the
    * takedown slice + compact + gate the increment — the full CDC
    * delete lifecycle. The oracle re-derives the boilerplate gate
    * over the SURVIVING standing corpus, so the negated-stat landing,
    * the immediate mask, the physical application and the manifest
    * carry must all be answer-invariant vs never having indexed the
    * deleted docs. */
  def qCdcDeleted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = TextDedup.spillPath(spark, "cdc_index_deleted")
    val standing = docs.filter(col("doc_id") % TextDedup.IncrementMod =!= 0)
    val isDel = col("doc_id") % CdcDeleteMod === CdcDeleteRem
    writeCdcIndex(standing.filter(col("doc_id") % 2 === 1), path)
    appendCdcIndex(spark, path, standing.filter(col("doc_id") % 2 === 0))
    deleteCdcIndex(spark, path, standing.filter(isDel))
    compactCdcIndex(spark, path)
    val banned = cdcIndexBoilerplate(spark, path).select(col("fp"))
    cdcChunks(docs.filter(col("doc_id") % TextDedup.IncrementMod === 0))
      .join(banned, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"), col("fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  def qCdcPersisted(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val path = TextDedup.spillPath(spark, "cdc_index")
    val standing = docs.filter(col("doc_id") % TextDedup.IncrementMod =!= 0)
    writeCdcIndex(standing.filter(col("doc_id") % 2 === 1), path)
    appendCdcIndex(spark, path, standing.filter(col("doc_id") % 2 === 0))
    compactCdcIndex(spark, path)
    val banned = cdcIndexBoilerplate(spark, path).select(col("fp"))
    cdcChunks(docs.filter(col("doc_id") % TextDedup.IncrementMod === 0))
      .join(banned, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"), col("fp"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // --- cross-document shared-span STRIP ---

  /** Remove corpus-level boilerplate spans FROM the text — the
    * ExactSubstr-style removal pass (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" run detection-then-
    * removal the same way) downstream of the detection the engine
    * already has: every CDC chunk whose fingerprint appears in ≥
    * `minDocs` distinct documents (the license blocks, navigation
    * footers and shared headers [[cdcSharedChunks]] reports) is
    * dropped from EVERY document, and the surviving chunks re-assemble
    * in chunk order. CDC boundaries make the strip robust to position:
    * the same license block fingerprints identically wherever it sits.
    *
    * Output: (doc_id, clean_text, n_dropped_chunks) — one row per
    * input document (a fully-boilerplate document survives with
    * clean_text = '' and every chunk counted dropped; so does an
    * empty/null-text one at 0 drops). `clean_text` is TOKEN-NORMALIZED
    * (single-space joined), the same normalization [[cdcChunks]]'
    * chunk_text carries — the downstream trainer consumes tokens, not
    * raw bytes.
    *
    * Plan (100 TB): [[cdcChunks]]' one doc-keyed exchange, a per-fp
    * count aggregate, an anti-join on the fp key, and a doc-keyed
    * re-assembly — no corpus-wide anything, no driver state. */
  def cdcStripShared(docs: DataFrame, divisor: Int = CdcDivisor,
                     minDocs: Long = 2L): DataFrame = {
    val chunks = cdcChunks(docs, divisor)
    val boiler = chunks.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("fp"))
    stripWithBanned(docs, chunks, boiler)
  }

  /** The shared removal/re-assembly tail of both strip forms. */
  private def stripWithBanned(docs: DataFrame, chunks: DataFrame,
                              banned: DataFrame): DataFrame = {
    val kept = chunks.join(banned, Seq("fp"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("chunk_id"), col("chunk_text")))),
          s => s.getField("chunk_text"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    val totals = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"))
    docs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        (coalesce(col("n_chunks"), lit(0L))
          - coalesce(col("n_kept"), lit(0L))).as("n_dropped_chunks"))
  }

  def qCdcStrip(spark: SparkSession, dir: String): DataFrame =
    cdcStripShared(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Fraction threshold for [[cdcStripSharedFrac]], in basis points of
    * the corpus document count (100 bp = 1%). An ABSOLUTE `minDocs`
    * does not survive scale-up: at 10¹⁰ documents, 2-document sharing
    * is coincidence (a quoted paragraph), not boilerplate — the
    * license block / navigation chrome signature is appearing in a
    * FRACTION of the corpus, which is scale-invariant. 1% of a 10¹⁰-doc
    * corpus is 10⁸ carriers: unambiguously corpus-level. */
  val CdcBoilerMinBp = 100L

  /** [[cdcStripShared]] with a DOCUMENT-FRACTION boilerplate threshold:
    * a fingerprint is boilerplate iff it appears in ≥ `minBp` basis
    * points of the corpus's distinct documents. The comparison is kept
    * integer (nd·10⁴ ≥ minBp·total) so both engines decide identically;
    * the 1-row total frame rides a broadcast cross join (the
    * CorpusFilters 1-row-aggregate convention). Same removal/
    * re-assembly tail as the absolute form. */
  def cdcStripSharedFrac(docs: DataFrame, divisor: Int = CdcDivisor,
                         minBp: Long = CdcBoilerMinBp): DataFrame = {
    val chunks = cdcChunks(docs, divisor)
    val total = docs.agg(countDistinct(col("doc_id")).as("n_total"))
    val boiler = chunks.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .crossJoin(broadcast(total))
      .filter(col("nd") * lit(10000L) >= lit(minBp) * col("n_total"))
      .select(col("fp"))
    stripWithBanned(docs, chunks, boiler)
  }

  def qCdcStripFrac(spark: SparkSession, dir: String): DataFrame =
    cdcStripSharedFrac(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** STRIP against a FROZEN boilerplate set — the admission-time form:
    * chunks whose fp sits in `bannedFps` (typically
    * [[cdcIndexBoilerplate]] from a landed snapshot) are removed from
    * each document of `docs`, survivors re-assemble exactly as in
    * [[cdcStripShared]]. A document's strip depends only on its own
    * text and the frozen set, so this runs per micro-batch unchanged. */
  def cdcStripAgainst(docs: DataFrame, bannedFps: DataFrame,
                      divisor: Int = CdcDivisor): DataFrame =
    stripWithBanned(docs, cdcChunks(docs, divisor),
      bannedFps.select(col("fp")))

  /** Harness entry: strip the 10% increment against the STANDING
    * corpus's boilerplate — the admission-time strip a crawl pipeline
    * runs on every batch (detection paid on the snapshot, removal per
    * increment). */
  def qCdcStripIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    cdcStripAgainst(
        docs.filter(col("doc_id") % TextDedup.IncrementMod === 0),
        cdcSharedChunks(docs.filter(col("doc_id") % TextDedup.IncrementMod =!= 0)))
      .orderBy(col("doc_id"))
  }

  /** Live shared-span STRIP of an arriving document stream against a
    * frozen boilerplate index — the removal-side twin of
    * [[streamingCdcAdmission]] (that gate REPORTS the clean chunks;
    * this one emits whole cleaned documents). Stateless foreachBatch,
    * same reasoning; spec pins streamed ≡ batch under any slicing.
    * The banned-fp frame PERSISTS before the query starts (and
    * releases on termination — [[Similarity.releaseOnTermination]]):
    * its lineage may contain a standing-corpus chunk-and-aggregate
    * (e.g. a [[cdcSharedChunks]] caller), and leaving it lazy would
    * re-pay that corpus scan on EVERY micro-batch — the same
    * K-batches-pay-K-standing-builds hazard the semantic and NB
    * admission gates close the same way. */
  def streamingCdcStrip(streamDocs: DataFrame, bannedFps: DataFrame,
                        divisor: Int = CdcDivisor,
                        checkpoint: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val banned = bannedFps.select(col("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val writer = streamDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(cdcStripAgainst(batch, banned, divisor), id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val query =
      checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
    Similarity.releaseOnTermination(streamDocs.sparkSession, query, Seq(banned))
    query
  }

  // --- vocabulary construction ---

  /** Vocabulary size cap. */
  val VocabK = 100

  /** Top-K corpus vocabulary with assigned ids: token, total
    * occurrences, document frequency, and vocab_id = frequency rank
    * (ties broken by token — pinned both engines). The global ranking
    * is sort+limit (TakeOrderedAndProject), NOT a corpus-wide
    * single-partition window; only the K survivors get ids. */
  def vocabTopK(docs: DataFrame, k: Int = VocabK): DataFrame = {
    val counts = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
    val top = counts
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)
    top.withColumn("vocab_id",
        row_number().over(Window.orderBy(col("n_occurrences").desc, col("token")))
          .cast("long"))
      .select(col("vocab_id"), col("token"), col("n_occurrences"), col("n_docs"))
  }

  def qVocabTopK(spark: SparkSession, dir: String): DataFrame =
    vocabTopK(Tables.documents(spark, dir)).orderBy(col("vocab_id"))

  /** Per-source tokenizer coverage under the [[vocabTopK]] vocabulary:
    * token total, OOV count, and the OOV share — the readout that
    * tells a tokenizer owner WHICH ingest slice their vocab is failing
    * before perplexity does (a new source with a high OOV share is
    * under-served by the current vocab/merges). One exploded pass with
    * the O(K) vocab as a broadcast anti-join probe, aggregated on the
    * bounded source key; integer counts plus one terminal division. */
  def vocabCoverage(docs: DataFrame, k: Int = VocabK): DataFrame = {
    val vocab = vocabTopK(docs, k).select(col("token"))
    docs.select(col("source"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(vocab).withColumn("in_vocab", lit(1L)),
        Seq("token"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_share",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  def qVocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(Tables.documents(spark, dir)).orderBy(col("source"))

  // --- tokenizer application (vocab encode) ---

  /** Encode every document as its vocab-id sequence: tokens mapped
    * through the [[vocabTopK]] table (out-of-vocabulary → id 0), in
    * token order. The vocab is O(K) and broadcast — tokenization is a
    * map-side join, one narrow pass over the corpus, and the sequence
    * rebuild is a per-document sort of (position, id) structs — integer
    * data, deterministic in both engines. Output keeps the sequence as
    * a space-joined string (the engine-portable spelling for the hash
    * oracle; a production sink would keep the array column).
    *
    * This is the downstream half of [[vocabTopK]]: build the
    * vocabulary once, then encode at corpus scale. */
  def tokenizeIds(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "token")
      .join(broadcast(vocab.select(col("token"), col("vocab_id"))),
        Seq("token"), "left")
      .withColumn("tid", coalesce(col("vocab_id"), lit(0L)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_oov"),
        array_sort(collect_list(struct(col("pos"), col("tid")))).as("_s"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        array_join(transform(col("_s"), s => s.getField("tid")), " ").as("ids_str"))

  def qTokenizeIds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    tokenizeIds(docs, vocabTopK(docs)).orderBy(col("doc_id"))
  }

  // --- corpus-frequency quality scoring ---

  /** A token is rare when its corpus-wide occurrence count is at or
    * below this cutoff. */
  val RareCutoff = 3

  /** Per-document rare-token ratio — the integer-exact unigram quality
    * proxy (gibberish, OCR noise, and boilerplate-free spam score high;
    * natural text scores low). Shape: token counts (map-side partial
    * agg) joined back to the exploded corpus on `token`, then one
    * per-document count aggregation. The frequency table is
    * vocabulary-sized (≪ corpus; AQE broadcasts it when it fits) and the
    * ratio is a single count/count division — no float accumulation
    * whose order could differ across engines or partitionings. */
  def rareTokenRatio(docs: DataFrame, cutoff: Int = RareCutoff): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val freq = tf.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
    tf.join(freq, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cnt") <= cutoff, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_ratio",
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_rare").cast("double") / col("n_tokens").cast("double")))
  }

  def qRareTokenRatio(spark: SparkSession, dir: String): DataFrame =
    rareTokenRatio(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // --- epoch shuffle (deterministic global permutation) ---

  /** Default nibble-prefix width for the two-level position
    * assignment: buckets = 16^width (2 → 256). SIZING RULE: pick the
    * smallest width with 16^width ≥ a few × total executor cores AND
    * N/16^width rows comfortably inside one task's window buffer —
    * each bucket is one window partition, so the per-partition row
    * count N/16^width is the scale axis (at 100 TB / ~10^11 docs,
    * width 4 → 65536 buckets → ~1.5M rows per window partition).
    * Because the bucket is a PREFIX of the sort hash, the emitted
    * positions are IDENTICAL at every width — widening for scale is a
    * pure parallelism knob, spec'd invariant in TrainPrepSpec. */
  val ShuffleNibbles = 2

  /** Deterministic global training order for an epoch: every document
    * gets a unique position 0..N-1 in salted-md5 order — the "shuffle
    * the corpus differently every epoch, identically on every rerun"
    * primitive. NEVER a corpus-wide single-partition window: positions
    * are assigned two-level — rank within one of 16^`nibbles` hash
    * buckets (distributed windows), plus each bucket's start offset
    * from a prefix sum over the 16^`nibbles`-row bucket-count table (a
    * bounded window, broadcast back). Same shape at any corpus size;
    * only the bounded offset table is ever global. The bucket is the
    * first `nibbles` hex chars of the sort hash, so ordering by
    * (bucket, h) IS ordering by h — positions don't depend on the
    * width (see [[ShuffleNibbles]] for sizing). */
  def epochShuffle(docs: DataFrame, epoch: Int,
                   nibbles: Int = ShuffleNibbles): DataFrame = {
    require(nibbles >= 1 && nibbles <= 8,
      s"nibbles must be in [1, 8], got $nibbles")
    val h = md5(concat(lit(s"ep$epoch:"), col("doc_id").cast("string")))
    def nib(c: Column, k: Int): Column =
      instr(lit("0123456789abcdef"), substring(c, k, 1)) - 1
    val d = docs.select(col("doc_id"), h.as("h"))
      .withColumn("bucket", (1 to nibbles)
        .map(k => nib(col("h"), k) * lit(1L << (4 * (nibbles - k))))
        .reduce(_ + _))
    val wb = Window.partitionBy(col("bucket")).orderBy(col("h"), col("doc_id"))
    val ranked = d.withColumn("rk", row_number().over(wb))
    val counts = ranked.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val wo = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("cnt")).over(wo), lit(0L)))
      .select(col("bucket"), col("off"))
    ranked.join(broadcast(offsets), Seq("bucket"))
      .select(col("doc_id"), (col("off") + col("rk") - 1).as("pos"))
  }

  def qEpochShuffle(spark: SparkSession, dir: String): DataFrame =
    epochShuffle(Tables.documents(spark, dir), epoch = 1).orderBy(col("doc_id"))

  // --- domain-balanced interleave ---

  /** Domain-balanced training order: documents from the S sources
    * strike-interleave — position = (rank within source − 1)·S +
    * (source index − 1) — so every run of S consecutive positions
    * holds at most one doc per source while each source's internal
    * order stays hash-shuffled (same salted-md5 trick as
    * [[epochShuffle]]). The ordering a curriculum uses when
    * consecutive same-domain batches hurt; `epochShuffle` is the
    * unconditioned alternative. Positions are dense per source but
    * globally SPARSE once sources exhaust (a short source stops
    * claiming its residue class) — consumers order by `pos`, they do
    * not index by it.
    *
    * Source indices come from a tiny sorted aggregate broadcast back;
    * the per-source rank is one keyed window. No global window, no
    * skew beyond the largest source. */
  def domainInterleave(docs: DataFrame): DataFrame = {
    val srcIdx = docs.select(col("source")).distinct()
      .withColumn("src_idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("source"))).cast("long"))
    val nSrc = srcIdx.agg(count(lit(1)).as("n_src"))
    val h = md5(concat(lit("il:"), col("doc_id").cast("string")))
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("source")).withColumn("h", h)
      .withColumn("rn", row_number().over(bySource).cast("long"))
      .join(broadcast(srcIdx), "source")
      .crossJoin(broadcast(nSrc))
      .select(col("doc_id"), col("source"),
        ((col("rn") - 1L) * col("n_src") + (col("src_idx") - 1L)).as("pos"))
  }

  def qDomainInterleave(spark: SparkSession, dir: String): DataFrame =
    domainInterleave(Tables.documents(spark, dir)).orderBy(col("pos"))

  // --- deterministic per-group evaluation sample ---

  /** Docs kept per source by [[evalSample]]. */
  val EvalPerSource = 5

  /** Deterministic "random" N-per-source sample — eval/holdout set
    * construction: rank documents within each source by a salted md5 of
    * their id (a stable pseudo-shuffle — never `rand()`, so reruns,
    * engines, and repartitionings agree) and keep the first N. One
    * window per source partition; no corpus-wide ordering anywhere. */
  def evalSample(docs: DataFrame, perSource: Int = EvalPerSource): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(md5(concat(lit("ev:"), col("doc_id").cast("string"))), col("doc_id"))
    docs.select(col("doc_id"), col("source"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= perSource)
  }

  def qEvalSample(spark: SparkSession, dir: String): DataFrame =
    evalSample(Tables.documents(spark, dir)).orderBy(col("source"), col("rank"))

  // --- domain upsampling (target-mix resampling with weights > 1) ---

  /** Materialized uniform-mix resample: every source is re-weighted
    * toward an equal share of the corpus, and — unlike the
    * downsample-only [[CorpusFilters.domainMix]] — sources SMALLER than
    * the target are upsampled by emitting repeat copies. The per-source
    * weight w = target/|source| splits into an integer repeat count
    * ⌊w⌋ plus a fractional remainder applied per document through a
    * salted md5 bucket (reshuffle-stable, never `rand()`), so every
    * engine and every rerun emits the identical copy multiset:
    * n_copies(doc) = ⌊w⌋ + [bucket(doc) < frac(w)·10000].
    *
    * Shape: the per-source plan (counts → weight split) is O(#domains)
    * and broadcast; the corpus side is one narrow pass emitting
    * `explode(sequence(1, n_copies))` — no shuffle beyond the count
    * aggregations, and output size is ≈ corpus size by construction
    * (each source contributes ≈ target rows). */
  def domainUpsample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val nSrc = counts.agg(count(lit(1)).as("n_sources"))
    val plan = counts.crossJoin(broadcast(total)).crossJoin(broadcast(nSrc))
      .select(col("source"), col("n_s"),
        expr("(n_total div n_sources) div n_s").as("copies_base"),
        expr("(((n_total div n_sources) % n_s) * 10000) div n_s").as("thr"))
    // 60-bit hash, NOT md5Bits16: 2^16 % 10000 = 5536 skews the
    // bucket distribution enough to push a realized keep rate several
    // percentage points past frac(w) — see functions.md5Bits60
    val bucket =
      md5Bits60(concat(lit("up:"), col("doc_id").cast("string"))) % 10000L
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(plan), Seq("source"))
      .withColumn("n_copies",
        col("copies_base") + when(bucket < col("thr"), 1L).otherwise(0L))
      // sequence(1, 0) would infer a DESCENDING step and emit [1, 0] —
      // zero-copy docs must contribute an EMPTY array (explode drops it)
      .select(col("doc_id"), col("source"), col("n_copies"),
        explode(when(col("n_copies") > 0, sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast("array<long>"))).as("copy_id"))
      .select(col("doc_id"), col("source"), col("n_copies"), col("copy_id"))
  }

  def qDomainUpsample(spark: SparkSession, dir: String): DataFrame =
    domainUpsample(Tables.documents(spark, dir))
      .orderBy(col("doc_id"), col("copy_id"))

  // --- mixture budget allocation (weighted water-filling) ---

  /** Per-source preference weights for [[mixtureAllocation]] — the
    * mixture the training run WANTS, as published integers (sources
    * not listed weigh 1). */
  val MixWeights: Seq[(String, Int)] =
    Seq("src0" -> 5, "src1" -> 4, "src2" -> 3, "src3" -> 2)

  /** Budget as a fraction of total availability: B = ⌊total · 2 / 5⌋. */
  val MixBudgetNum = 2
  val MixBudgetDen = 5

  /** Allocate a global document budget across sources by weighted
    * water-filling: each source receives min(avail, w·λ) documents
    * with one shared water level λ chosen to spend the budget —
    * the planning step of "train on B tokens at THIS mixture" when
    * preferred sources don't have enough data and their shortfall
    * must flow to the rest in proportion to weight (the fallback
    * a plain per-source quota silently gets wrong).
    *
    * Exact greedy form: sources sorted ascending by avail/weight;
    * a source is CAPPED (takes all its docs) iff
    * `avail·(W − pw) ≤ (B − pa)·w` over the prefix sums pa/pw of the
    * sorted order — the cross-multiplied integer spelling of
    * avail/w ≤ remaining-level, so both engines make bit-identical
    * decisions (the ratio appears only as a window SORT key: one
    * IEEE division, same order both engines). Uncapped sources split
    * the residual budget by integer floor `(w·B')div W'`, clamped to
    * avail. Everything is O(#sources): the counts aggregate is the
    * only corpus-scale pass, and the global window runs over the
    * bounded per-source frame (documented global-window exemption —
    * #sources is a workload constant). Σ alloc ≤ B structurally:
    * each capped source fit inside the remaining budget when tested,
    * and the uncapped floors sum below the residual. */
  def mixtureAllocation(docs: DataFrame,
                        weights: Seq[(String, Int)] = MixWeights): DataFrame = {
    val wcol =
      if (weights.isEmpty) lit(1L) // map() of zero entries has no key type
      else {
        val wmap = map(weights.flatMap { case (s, w) =>
          Seq(lit(s), lit(w)) }: _*)
        coalesce(element_at(wmap, col("source")).cast("long"), lit(1L))
      }
    val a = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      .withColumn("weight", wcol)
    val tot = a.agg(sum(col("n_s")).as("n_total"),
      sum(col("weight")).as("w_total"))
    val pre = Window.orderBy(
        (col("n_s").cast("double") / col("weight").cast("double")).asc,
        col("source").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = a.crossJoin(broadcast(tot))
      .withColumn("budget",
        expr(s"(n_total * $MixBudgetNum) div $MixBudgetDen"))
      .withColumn("pa", coalesce(sum(col("n_s")).over(pre), lit(0L)))
      .withColumn("pw", coalesce(sum(col("weight")).over(pre), lit(0L)))
      .withColumn("capped",
        col("n_s") * (col("w_total") - col("pw")) <=
          (col("budget") - col("pa")) * col("weight"))
    val residual = c.agg(
      (first(col("budget")) -
        coalesce(sum(when(col("capped"), col("n_s"))), lit(0L))).as("b_res"),
      (first(col("w_total")) -
        coalesce(sum(when(col("capped"), col("weight"))), lit(0L))).as("w_res"))
    c.crossJoin(broadcast(residual))
      .withColumn("alloc",
        when(col("capped"), col("n_s"))
          .when(col("w_res") > 0,
            least(col("n_s"), expr("(weight * b_res) div w_res")))
          .otherwise(lit(0L)))
      .select(col("source"), col("n_s"), col("weight"), col("capped"),
        col("alloc"))
  }

  def qMixBudget(spark: SparkSession, dir: String): DataFrame =
    mixtureAllocation(Tables.documents(spark, dir)).orderBy(col("source"))

  /** Materialize the [[mixtureAllocation]] plan: per source, keep a
    * deterministic hash-thresholded subset of ≈alloc documents — the
    * EXECUTION half of the budget planner, same recipe as
    * [[CorpusFilters.domainMix]] (`bucket·n_s < alloc·10000`, integer
    * cross-multiply, "mixsel:" salt so the selection is independent of
    * the split/mix/upsample buckets). The plan frame is O(#sources)
    * and broadcast onto a single narrow corpus pass; keep decisions
    * are reshuffle- and rerun-stable, and the realized per-source
    * count concentrates on alloc·(1 ± 10^-2ish) by the uniformity of
    * the 60-bit bucket. */
  def mixtureSample(docs: DataFrame,
                    weights: Seq[(String, Int)] = MixWeights): DataFrame = {
    val plan = mixtureAllocation(docs, weights)
      .select(col("source"), col("n_s"), col("alloc"))
    val bucket =
      md5Bits60(concat(lit("mixsel:"), col("doc_id").cast("string"))) % 10000L
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(plan), Seq("source"))
      .filter(bucket * col("n_s") < col("alloc") * 10000L)
      .select(col("doc_id"), col("source"))
  }

  def qMixSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSample(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // --- exact token-budget mixture fill ---

  /** Deterministic TOKEN-budget mixture fill — the exact,
    * token-denominated counterpart of [[mixtureSample]]: where that
    * operator keeps ≈alloc DOCUMENTS per source by a probabilistic
    * hash threshold, this one fills each source's TOKEN allocation
    * exactly ("train on B tokens at THESE domain shares" — the
    * execution half of a DoReMi-style reweighting recipe, Xie et al.
    * 2023, where the recipe's output is token shares, not doc
    * counts).
    *
    * Per source: docs order by the 60-bit `mix:` hash stream (salt
    * decouples it from the split/leak/upsample/mixsel streams), the
    * running token total rides one source-partitioned window, and a
    * doc is kept while the total BEFORE it is under the source's
    * target `(budgetTokens · share_bp) div 10000` — so the boundary
    * doc that completes the allocation is kept (budget fill, never a
    * hole), and every decision is integer arithmetic both engines
    * replay bit-identically. `shares` rows are (source, share_bp)
    * basis points; sources absent from it are absent from the output
    * (a mixture that omits a domain drops it).
    *
    * Scale: one tokenize pass, a broadcast of the O(#sources) shares
    * table, one window partitioned by source — no global order, no
    * collect, and the null-text doc costs 0 tokens (coalesced) rather
    * than poisoning its source's running sum. */
  def tokenBudgetMix(docs: DataFrame, shares: DataFrame,
                     budgetTokens: Long): DataFrame = {
    val toks = TextStats.qualityFeatures(docs)
      .select(col("doc_id"),
        coalesce(col("n_tokens").cast("long"), lit(0L)).as("n_tokens"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("bkt"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("source"))
      .join(toks, Seq("doc_id"))
      .join(broadcast(shares), Seq("source"))
      .withColumn("bkt",
        md5Bits60(concat(lit("mix:"), col("doc_id").cast("string"))))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("target_tokens",
        expr(s"($budgetTokens * share_bp) div 10000").cast("long"))
      .withColumn("keep",
        col("cum_tokens") - col("n_tokens") < col("target_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("target_tokens"), col("keep"))
  }

  case class BudgetAdmit(doc_id: Long, source: String, n_tokens: Long,
                         admitted_before: Long, admitted: Boolean)

  /** One micro-batch of a source's documents through the budget gate:
    * state is ONE long (tokens admitted so far); a doc is admitted
    * while the total BEFORE it is under the target, the boundary doc
    * completes the allocation — the [[tokenBudgetMix]] fill rule
    * verbatim. Within a batch docs process in doc_id order (a
    * deterministic tiebreak, the funnel's in-batch-sort convention). */
  def budgetAdmitGroup(targets: Map[String, Long])(
      source: String, batch: Iterator[(Long, String, Long)],
      state: GroupState[Long]): Iterator[BudgetAdmit] = {
    val target = targets.getOrElse(source, 0L)
    var admitted = state.getOption.getOrElse(0L)
    val out = batch.toVector.sortBy(_._1).map { case (id, _, n) =>
      val before = admitted
      val ok = before < target
      if (ok) admitted += n
      BudgetAdmit(id, source, n, before, ok)
    }
    state.update(admitted)
    out.iterator
  }

  /** LIVE token-budget admission — the streaming twin of
    * [[tokenBudgetMix]], `flatMapGroupsWithState` keyed by source with
    * a single Long of state. Same fill rule, applied in ARRIVAL order
    * where the batch form uses the canonical hash order: the two agree
    * on the BUDGET INVARIANT (per source, admitted tokens land in
    * `[target, target + boundary_doc)` and the gate then stays closed
    * — StreamingSpec pins exactly that), not on which documents fill
    * it — a live gate that reproduced the batch's hash-ordered keep
    * set would have to buffer the whole stream, and the batch operator
    * IS that buffered form. Sources absent from `shares` gate at
    * target 0 (every doc emitted rejected — the gate reports, never
    * silently drops). State: one long per source, bounded by #sources,
    * no timeout needed. */
  def streamingBudgetAdmission(streamDocs: DataFrame, shares: DataFrame,
                               budgetTokens: Long): Dataset[BudgetAdmit] = {
    val spark = streamDocs.sparkSession
    import spark.implicits._
    // O(#sources) driver collect — the same bounded-table handoff as
    // the frozen-threshold gates
    val targets = shares.select(col("source"), col("share_bp")).collect()
      .map(r => r.getString(0) -> budgetTokens * r.getLong(1) / 10000L)
      .toMap
    streamDocs.select(col("doc_id"), col("source"),
        coalesce(TextStats.tokenProfile(col("text"), Nil).getField("n_tokens")
          .cast("long"), lit(0L)).as("n_tokens"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        budgetAdmitGroup(targets) _)
  }

  /** Oracle entry: shares are hash-derived basis points per source
    * (100..899 — arbitrary unequal targets, deliberately NOT the
    * equal-share [[CorpusFilters.domainMix]] case), budget 7777 so the
    * integer division is non-trivial. */
  def qTokenBudgetMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val shares = docs.select(col("source")).distinct()
      .withColumn("share_bp",
        (md5Bits16(concat(lit("share:"), col("source"))) % 800 + 100)
          .cast("long"))
    tokenBudgetMix(docs, shares, budgetTokens = 7777L).orderBy(col("doc_id"))
  }

  // --- BPE merge learning (subword vocabulary induction) ---

  /** Merge budget for [[bpeMerges]] — the workload constant that bounds
    * the driver loop, the collected state (K 1-row argmaxes), and the
    * encoder's expression depth. */
  val BpeMergeK = 8

  /** Symbol-boundary brackets for the merge replay. A word's symbol
    * sequence is spelled `⟨sym⟩⟨sym⟩…` and one merge round is a plain
    * non-overlapping left-to-right string replace of `⟨a⟩⟨b⟩` with
    * `⟨ab⟩` — each unit is self-delimiting, so the replace consumes no
    * shared separator and greedy replace equals the canonical
    * left-to-right BPE fold (a space-separated spelling would NOT:
    * replacing ` a b ` eats the boundary space and skips the next
    * overlapping occurrence). The same replay runs verbatim in the
    * DuckDB oracle, which is the whole reason to learn on strings
    * instead of per-row symbol arrays. Words containing a bracket
    * character are excluded from learning in BOTH engines (they would
    * make the encoding grammar ambiguous); the synthetic corpus has
    * none, and a production tokenizer would map them to escapes
    * upstream. */
  val BpeL = "⟨"
  val BpeR = "⟩"

  /** The distinct-word table BPE learns on: (word, encoded, n) where
    * `encoded` is the char-wise bracket encoding of a pretoken
    * ([[TextStats.bpeTokens]]) and `n` its corpus occurrence count.
    * Distinct words, not occurrences — Heaps-law-bounded, the standard
    * BPE trick that makes each merge round a vocabulary-sized pass
    * instead of a corpus-sized one. */
  def bpeWordTable(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextStats.bpeTokens(col("text"))).as("word"))
      .where(!col("word").contains(BpeL) && !col("word").contains(BpeR))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .select(col("word"),
        regexp_replace(col("word"), "(.)", s"$BpeL$$1$BpeR").as("encoded"),
        col("n"))

  /** Symbol array of an encoded word: strip the outer brackets, split
    * on the inter-symbol boundary `⟩⟨`. */
  private def symbolArray(encoded: Column): Column =
    split(encoded.substr(lit(2), length(encoded) - 2),
      java.util.regex.Pattern.quote(s"$BpeR$BpeL"))

  /** Adjacent-symbol pairs of an encoded word, as (a, b) structs. */
  private def symbolPairs(encoded: Column): Column = {
    val syms = symbolArray(encoded)
    zip_with(
      slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      (a, b) => struct(a.as("a"), b.as("b")))
  }

  /** Learned BPE merge table: `k` rounds of the classic pair-merge
    * induction (Sennrich et al. 2016) over the corpus pretokens.
    * Each round: one vocabulary-sized pass counts adjacent symbol
    * pairs weighted by word frequency; the arg-max pair (ties broken
    * lexicographically — pinned in both engines) becomes merge rank r;
    * the merge is applied to every word by the self-delimiting string
    * replace (see [[BpeL]]). The driver loop follows the
    * [[TextDedup.dedupClusters]] discipline: K bounded rounds, ONE
    * 1-row collect per round (the argmax), nothing corpus-sized on the
    * driver. The word table is localCheckpoint'ed once after the
    * explode+groupBy build; each round then recomputes only its ≤K
    * nested replaces — a projection chain Catalyst collapses, linear
    * plan growth, no per-round checkpoint needed.
    *
    * Returns (merge_rank, lhs, rhs, merged, support) — `support` is
    * the weighted pair count that won the round. */
  def bpeMerges(docs: DataFrame, k: Int = BpeMergeK): DataFrame =
    bpeMergesFrom(
      bpeWordTable(docs).select(col("encoded"), col("n")).localCheckpoint(), k)

  /** Learn from a pre-built (encoded, n) word table — lets callers
    * that also need the table ([[qBpeEncode]]) build and checkpoint it
    * ONCE instead of paying the corpus explode+aggregate twice. The
    * caller owns the frame's lifecycle. */
  def bpeMergesFrom(wordTable: DataFrame, k: Int = BpeMergeK): DataFrame = {
    val spark = wordTable.sparkSession
    import spark.implicits._
    var words = wordTable
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < k && !exhausted) {
      val top = words
        .select(explode(symbolPairs(col("encoded"))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect() // bounded: exactly one row (the round's argmax)
      if (top.isEmpty) exhausted = true
      else {
        val row = top.head
        val (a, b, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((r + 1L, a, b, a + b, cnt))
        // call_function keeps token text out of SQL-literal escaping
        words = words.select(
          call_function("replace", col("encoded"),
            lit(s"$BpeL$a$BpeR$BpeL$b$BpeR"), lit(s"$BpeL$a$b$BpeR")).as("encoded"),
          col("n"))
      }
      r += 1
    }
    merges.toSeq.toDF("merge_rank", "lhs", "rhs", "merged", "support")
  }

  /** Encode a word column with a learned merge sequence: the initial
    * char-wise encoding followed by the K replaces in rank order — a
    * static, codegen'd expression chain (K is [[BpeMergeK]]-bounded),
    * no per-row vocabulary state. Returns the bracket-encoded STRING
    * (the byte-exact artifact the oracle compares); [[bpeEncode]]
    * splits it into the symbol array. */
  def bpeEncodeString(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(
      regexp_replace(word, "(.)", s"$BpeL$$1$BpeR")) { case (c, (a, b)) =>
        call_function("replace", c,
          lit(s"$BpeL$a$BpeR$BpeL$b$BpeR"), lit(s"$BpeL$a$b$BpeR"))
    }

  def bpeEncode(word: Column, merges: Seq[(String, String)]): Column =
    symbolArray(bpeEncodeString(word, merges))

  def qBpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables.documents(spark, dir)).orderBy(col("merge_rank"))

  /** Top-N output rows for [[qBpeEncode]] — bounded, deterministic
    * (count desc, word — words are unique). */
  val BpeEncodeTopN = 200

  /** The corpus-application half of BPE: learn the merge table, then
    * encode the distinct-word vocabulary with it and emit the
    * byte-exact encoded strings for the [[BpeEncodeTopN]] most common
    * words. The learn side collects only the K 1-row argmaxes; the
    * encode side is one static expression chain over the
    * Heaps-bounded word table — the corpus token stream itself would
    * be encoded by the same broadcast-free chain (symbol lookup needs
    * no join at all, unlike id assignment, which is [[tokenizeIds]]'
    * job). The oracle replays the identical CTE chain and compares
    * the full encoded string byte for byte. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    // ONE word-table build+checkpoint serves both the learn rounds and
    // the encode pass (bpeMerges(docs) would rebuild it internally)
    val words = bpeWordTable(Tables.documents(spark, dir)).localCheckpoint()
    val merges = bpeMergesFrom(words.select(col("encoded"), col("n")))
      .select(col("lhs"), col("rhs"), col("merge_rank"))
      .collect() // O(K): the learned merge table, rank-ordered
      .sortBy(_.getLong(2))
      .map(r => (r.getString(0), r.getString(1))).toSeq
    words
      .select(col("word"), col("n"),
        bpeEncodeString(col("word"), merges).as("encoded"))
      .select(col("word"), col("n"),
        size(symbolArray(col("encoded"))).cast("long").as("n_syms"),
        col("encoded"))
      .orderBy(col("n").desc, col("word"))
      .limit(BpeEncodeTopN)
  }

  // ---------------------------------------------------------------------
  // DSIR importance weights (data selection via importance resampling)
  // ---------------------------------------------------------------------

  /** The exemplar domain the shipped query uses as the DSIR target. */
  val DsirTargetSource = "src0"

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): every document scored by the
    * log-ratio of its unigram-bag likelihood under a TARGET-domain LM
    * versus the raw-corpus LM,
    *
    *   log w(d) = Σ_t k_t(d) · [ ln p_tgt(t) − ln p_raw(t) ],
    *   p_·(t) = (n_·(t) + 1) / (N_· + V)      (add-one over shared vocab)
    *
    * — the standard cheap proxy for "is this raw document shaped like
    * the domain I want more of". Docs with `logw_micro > 0` look more
    * target-like than corpus-average (`keep` flag); a resampler feeds
    * the weight into the md5-bucket machinery ([[domainUpsample]]) for
    * deterministic selection.
    *
    * Exactness: both logs quantize to integer micro-nats at the leaf
    * ([[graft.functions.qlnMicro]]), so a doc's score is an exact
    * BIGINT sum — engine-portable regardless of summation order (the
    * [[graft.operators.CorpusAnalytics.lmPerplexity]] discipline).
    *
    * Plan shape (100 TB): ONE corpus scan collapsing to a persisted
    * (doc, token) count table (corpus-scale; MEMORY_AND_DISK spill is
    * the deliberate trade vs three more scans); the raw and target
    * unigram models re-aggregate that cache (the target model is a
    * filter of it — no second pass over text); scoring joins the cache
    * against the two vocab-sized models on the token key; totals ride
    * one broadcast 1-row frame. No cross products, no driver collects.
    *
    * Cache lifecycle: the persist is intentionally NOT unpersisted here
    * — the returned frame is lazy, so an in-operator unpersist would
    * fire before any action and defeat the one-scan bound. The harness
    * mains (Bench, Verify) call `spark.catalog.clearCache()` after each
    * query materializes, which is what bounds cache growth across a
    * multi-query session; a library caller embedding this in a longer
    * job owns the same release. */
  def dsirWeights(docs: DataFrame,
                  targetSource: String = DsirTargetSource): DataFrame = {
    val docTok = docs
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("source"), col("w"))
      .agg(count(lit(1)).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = docTok.groupBy(col("w")).agg(sum(col("k")).as("n_raw"))
    val tgt = docTok.filter(col("source") === targetSource)
      .groupBy(col("w")).agg(sum(col("k")).as("n_tgt"))
    // V (shared vocab), N_raw, N_tgt in ONE 1-row broadcast frame
    val totals = raw
      .join(tgt, Seq("w"), "left")
      .agg(count(lit(1)).as("v"), sum(col("n_raw")).as("nn_raw"),
        coalesce(sum(col("n_tgt")), lit(0L)).as("nn_tgt"))
    val perTok =
      qlnMicro(coalesce(col("n_tgt"), lit(0L)) + 1) -
        qlnMicro(col("nn_tgt") + col("v")) -
        qlnMicro(col("n_raw") + 1) +
        qlnMicro(col("nn_raw") + col("v"))
    docTok
      .join(raw, Seq("w"))
      .join(tgt, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * perTok).as("logw_micro"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("logw_micro"), (col("logw_micro") > 0).as("keep"))
  }

  def qDsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** The probe source the shipped admission query scores. */
  val DsirProbeSource = "src1"

  /** DSIR admission gate: score PROBE documents against a FROZEN
    * reference-corpus LM — the incremental-ingest twin of
    * [[dsirWeights]] (which self-trains on the frame it scores). This
    * is what a live pipeline runs on each incoming crawl batch: the
    * model tables are standing state, the probe is new data, and
    * admission is `logw_micro > 0`.
    *
    * Deliberately ONE aggregation (explode → token-key stream-static
    * joins → one groupBy(doc)): Σ over occurrences of the per-token
    * term ≡ Σ k·term, exact in integer micro-nats either way, and the
    * single-aggregation shape is what lets the IDENTICAL code run as a
    * Structured Streaming query (multiple stateful aggregations are
    * unsupported; stream-static equi-joins and a broadcast 1-row
    * totals frame are). StreamingSpec pins streamed scores ≡ batch
    * scores. Probe tokens unseen in the model fall through the left
    * joins to the add-one floor on both LMs.
    */
  def dsirScoreAgainst(probe: DataFrame, model: DataFrame,
                       targetSource: String = DsirTargetSource): DataFrame = {
    val modelTok = model
      .select(col("source"), explode(tokens(col("text"))).as("w"))
    val raw = modelTok.groupBy(col("w")).agg(count(lit(1)).as("n_raw"))
    val tgt = modelTok.filter(col("source") === targetSource)
      .groupBy(col("w")).agg(count(lit(1)).as("n_tgt"))
    val totals = raw
      .join(tgt, Seq("w"), "left")
      .agg(count(lit(1)).as("v"), sum(col("n_raw")).as("nn_raw"),
        coalesce(sum(col("n_tgt")), lit(0L)).as("nn_tgt"))
    val perTok =
      qlnMicro(coalesce(col("n_tgt"), lit(0L)) + 1) -
        qlnMicro(col("nn_tgt") + col("v")) -
        qlnMicro(coalesce(col("n_raw"), lit(0L)) + 1) +
        qlnMicro(col("nn_raw") + col("v"))
    probe
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("w"))
      .join(raw, Seq("w"), "left")
      .join(tgt, Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(perTok).as("logw_micro"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("logw_micro"), (col("logw_micro") > 0).as("keep"))
  }

  def qDsirAdmission(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dsirScoreAgainst(docs.filter(col("source") === DsirProbeSource), docs)
      .orderBy(col("doc_id"))
  }

  // --- leakage-guarded split ---

  /** Train/val/test assignment that cannot leak near-duplicates across
    * the split boundary: every document is assigned by the md5 bucket
    * of its NEAR-DUP CLUSTER id, not its own id, so all members of a
    * duplicate cluster land in the same split. A plain per-doc hash
    * split ([[TextStats.splitBucket]]) puts ~10% of every near-dup
    * cluster's copies in val/test — the textbook train-test
    * contamination path (Lee et al., "Deduplicating Training Data",
    * §6.2: eval-set dups inflate scores).
    *
    * `labels` is the (doc_id, cluster_id) frame of [[TextDedup.dedupClusters]]
    * — docs absent from it are singletons and use their own id as the
    * cluster id, which reduces to the plain hash split for them. The
    * "leak:" salt decouples this bucket stream from the doc-id "split:"
    * stream, so a cluster root's bucket is NOT the bucket its root doc
    * would get in [[TextStats.splitBucket]] — the two splits are
    * independent hash streams by construction.
    *
    * Scale: one left join on the `doc_id` partitioning both frames
    * already carry, then a per-row hash — no new shuffle beyond what
    * clustering itself cost. Same 80/10/10 thresholds as the plain
    * split. */
  def leakageSplit(docs: DataFrame, labels: DataFrame): DataFrame = {
    val bkt = md5Bits16(concat(lit("leak:"), col("cluster_id").cast("string"))) % 100
    docs.select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(bkt < 80, "train").when(bkt < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  def qLeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // served from the per-(JVM, dir) materialized label table
    // ([[TextDedup.clusterLabels]]) — parquet-backed, no cache to
    // release, so the assignment needs no per-query spill
    leakageSplit(docs, TextDedup.clusterLabels(spark, dir, "all")(docs))
      .orderBy(col("doc_id"))
  }

  /** INCREMENTAL leakage-guarded split: assign a fresh increment of
    * documents split labels CONSISTENT with a standing corpus that was
    * split by [[leakageSplit]] — a new document that is a near-dup of a
    * standing document must inherit the standing doc's split (else the
    * increment puts fresh copies of training docs into val/test — the
    * live-crawl contamination path the batch guard can't see).
    *
    * Rule: a probe doc matching any standing docs (via the banded
    * [[TextDedup.crossCorpusPairs]] probe) takes the MINIMUM matched
    * standing cluster id; unmatched probes fall back to their own id —
    * then the split is the same "leak:" bucket of the cluster id in
    * both cases, so an inherited assignment is BY CONSTRUCTION equal to
    * the standing split of the matched cluster (one formula, no split
    * column ever joined across).
    *
    * Scale: candidate generation is the standing-index banded probe
    * (shingles/bands computed only for the increment — the
    * [[TextDedup.writeDedupIndex]] lifecycle applies unchanged); the
    * assignment itself is one groupBy(min) on probe_id plus a left
    * join. Works as the foreachBatch body of
    * [[TextDedup.streamingNearDup]] for live admission. */
  def leakageSplitIncrement(probe: DataFrame, standing: DataFrame,
                            labels: DataFrame): DataFrame = {
    val standingClusters = standing.select(col("doc_id"))
      .join(labels.select(col("doc_id"), col("cluster_id")), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val matches = TextDedup.crossCorpusPairs(probe, standing)
      .join(standingClusters.withColumnRenamed("doc_id", "index_id"),
        Seq("index_id"))
      .groupBy(col("probe_id")).agg(min(col("cluster_id")).as("match_cluster"))
    val bkt = md5Bits16(concat(lit("leak:"), col("cluster_id").cast("string"))) % 100
    probe.select(col("doc_id"))
      .join(matches.withColumnRenamed("probe_id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("inherited", col("match_cluster").isNotNull)
      .withColumn("cluster_id", coalesce(col("match_cluster"), col("doc_id")))
      .withColumn("split",
        when(bkt < 80, "train").when(bkt < 90, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("inherited"), col("split"))
  }

  def qLeakageIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val probe = docs.filter(col("doc_id") % TextDedup.IncrementMod === 0)
    val standing = docs.filter(col("doc_id") % TextDedup.IncrementMod =!= 0)
    leakageSplitIncrement(probe, standing,
        TextDedup.clusterLabels(spark, dir, "standing")(standing))
      .orderBy(col("doc_id"))
  }

  // --- curriculum ordering ---

  /** Curriculum stages. */
  val CurriculumStages = 4

  /** Bucket width for the two-level global rank: quality scores are
    * quantized to 1/64ths for the COARSE distribution pass. Pure
    * parallelism — any width yields byte-identical ranks (the
    * fine-rank window is exact within each bucket); 64 balances bucket
    * count (≤ ~240 for the score's [-1, 2.5] range) against per-bucket
    * row volume. */
  val RankBucketWidth = 64.0

  /** EXACT global rank over (quality_score DESC, doc_id ASC) without a
    * corpus-wide single-partition window — the scalable spelling of
    * `row_number() OVER (ORDER BY ...)`:
    *
    *   1. quantize the sort key into coarse buckets
    *      (`floor(-score · 64)` — ascending bucket = descending score,
    *      so bucket order IS rank order);
    *   2. aggregate per-bucket counts (map-side partial, ≤ ~240 rows —
    *      the score is bounded in [-1, 2.5] by construction, see
    *      [[TextStats.qualityFeatures]]) and prefix-sum them on the
    *      driver into per-bucket rank offsets — the ONLY collect, O(score
    *      range · RankBucketWidth) rows regardless of corpus size;
    *   3. `row_number()` WITHIN each bucket (parallel across buckets —
    *      no global-order partition) + broadcast-joined offset = exact
    *      global rank.
    *
    * A direct `Window.orderBy` with no partition spec funnels the whole
    * corpus through ONE task; this shape keeps every stage partitioned.
    * CurriculumSpec pins equality with the naive single-window rank.
    *
    * The curriculum stage is the standard `ntile(CurriculumStages)`
    * arithmetic over the exact rank (first `n mod k` stages take the
    * extra row), computed as integer arithmetic from (rank, n) so both
    * engines decide identically. Stage 1 = highest quality — train on
    * the cleanest slice first, the curriculum-learning schedule. */
  def curriculumStages(docs: DataFrame, k: Int = CurriculumStages): DataFrame =
    stagesWithTokens(docs, k)
      .select(col("doc_id"), col("quality_score"), col("rank"), col("stage"))

  /** [[curriculumStages]] plus the `n_tokens` column from the SAME
    * [[TextStats.qualityFeatures]] projection the ranking rides — the
    * seam [[curriculumMix]] consumes so its token totals don't pay a
    * second tokenize pass (Catalyst does not share the subplan across
    * two separate `qualityFeatures` invocations). The bucket-count
    * `collect` below is still its own job — one extra corpus scan per
    * curriculum build, bounded and stated, column-pruned to the score. */
  private[graft] def stagesWithTokens(docs: DataFrame,
                                      k: Int = CurriculumStages): DataFrame = {
    // null-text docs score a NULL quality ([[TextStats.qualityFeatures]]
    // propagates null through the ratios); they must still be ranked —
    // LAST — not NPE the offset collect or vanish at the bucket join,
    // so the bucket key coalesces null to -inf (bucket floor(+inf) =
    // Long.MaxValue, after every real score) and the in-bucket window
    // relies on desc's default nulls-last. The oracle corpus is
    // non-null text, so no cross-engine surface changes.
    val q = TextStats.qualityFeatures(docs)
      .select(col("doc_id"), col("quality_score"), col("n_tokens"))
      .withColumn("bkt",
        floor(-coalesce(col("quality_score"), lit(Double.NegativeInfinity))
          * lit(RankBucketWidth)).cast("long"))
    val counts = q.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      .orderBy(col("bkt"))
      .collect() // bounded: ≤ score-range × RankBucketWidth buckets (~240)
    var off = 0L
    val offsets = counts.map { r =>
      val o = (r.getLong(0), off); off += r.getLong(1); o
    }
    val n = off
    val spark = docs.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("bkt", "off")
    val w = Window.partitionBy(col("bkt"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    val base = n / k
    val rem = n % k
    val r0 = col("rank") - 1L
    // exact long division: (a - a mod b) is an exact multiple of b, so
    // the double division is exact for all a < 2^53 — Spark's `/` alone
    // is a double divide whose rounding could misplace a stage boundary
    // at extreme ranks
    def idiv(a: Column, b: Long): Column =
      ((a - pmod(a, lit(b))) / lit(b)).cast("long")
    // ntile(k): `rem` stages of base+1 rows, then k-rem of base rows;
    // base == 0 (n < k) degenerates to one row per stage
    val stage =
      if (base == 0L) col("rank")
      else when(r0 < lit(rem * (base + 1)), idiv(r0, base + 1) + 1L)
        .otherwise(lit(rem) + idiv(r0 - lit(rem * (base + 1)), base) + 1L)
    q.join(broadcast(offDf), Seq("bkt"))
      .withColumn("rank", (col("off") + row_number().over(w)).cast("long"))
      .withColumn("stage", stage.cast("long"))
      .select(col("doc_id"), col("quality_score"), col("n_tokens"),
        col("rank"), col("stage"))
  }

  def qCurriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumStages(Tables.documents(spark, dir)).orderBy(col("rank"))

  /** [[curriculumStages]] with APPROXIMATE stage boundaries — the
    * documented 100-TB monolingual swap made a real code path instead
    * of prose: stage membership comes from k−1 `percentile_approx`
    * boundaries of the quality score (one t-digest aggregate,
    * broadcast as a 1-row frame) rather than a global exact rank, so
    * there is NO global ordering, no bucket-offset collect, and no
    * per-bucket window — the only corpus-wide exchange is the
    * aggregate's partial/final pair. The emitted schema is
    * [[curriculumStages]] minus `rank` (an approximate split cannot
    * honestly emit a global rank): (doc_id, quality_score, stage),
    * stage 1 = highest quality.
    *
    * Assignment: with ascending boundaries b₁ ≤ … ≤ b₍k₋₁₎,
    * stage = k − |{j : bⱼ ≤ score}| — scores above every boundary
    * land in stage 1, below all of them in stage k. Null-score docs
    * coalesce to −∞ (stage k), the [[stagesWithTokens]] rule.
    *
    * Not oracle-hashable (t-digest internals are engine-specific) —
    * rows-only harness entry plus the accuracy-contract spec
    * (TrainPrepSpec): stage sizes within tie-tolerance of n/k and
    * every assignment within one stage of the exact split. */
  def curriculumStagesApprox(docs: DataFrame, k: Int = CurriculumStages,
                             accuracy: Int = 10000): DataFrame = {
    val q = TextStats.qualityFeatures(docs)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("_s",
        coalesce(col("quality_score"), lit(Double.NegativeInfinity)))
    val probs = (1 until k).map(i => i.toDouble / k)
    val bounds = q.agg(percentile_approx(col("_s"),
      array(probs.map(lit): _*), lit(accuracy)).as("bs"))
    q.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("quality_score"),
        (lit(k) - aggregate(col("bs"), lit(0),
          (acc, b) => acc + when(b <= col("_s"), 1).otherwise(0)))
          .cast("long").as("stage"))
  }

  def qCurriculumApprox(spark: SparkSession, dir: String): DataFrame = {
    curriculumStagesApprox(Tables.documents(spark, dir))
      .orderBy(col("doc_id"))
  }

  /** The mixture schedule a curriculum implies: per (stage, source)
    * document and token counts — what each training phase actually
    * feeds the model, domain by domain. One doc_id equi-join onto the
    * stage assignment plus a (stage, source) aggregate; token counts
    * ride the same [[TextStats.qualityFeatures]] pass the stages were
    * ranked by (via [[stagesWithTokens]]), so no second tokenize —
    * the only remaining extra scan is the curriculum build's own
    * bounded bucket-count collect. */
  def curriculumMix(docs: DataFrame, k: Int = CurriculumStages): DataFrame =
    stagesWithTokens(docs, k)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("stage"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"))

  def qCurriculumMix(spark: SparkSession, dir: String): DataFrame = {
    curriculumMix(Tables.documents(spark, dir))
      .orderBy(col("stage"), col("source"))
  }

  /** Frozen per-stage quality floors from a REFERENCE corpus: the
    * minimum quality score admitted to each stage. The k-row frame a
    * live admission gate broadcasts. */
  def curriculumThresholds(reference: DataFrame,
                           k: Int = CurriculumStages): DataFrame =
    curriculumStages(reference, k)
      .groupBy(col("stage")).agg(min(col("quality_score")).as("floor_score"))

  /** Curriculum ADMISSION: assign probe documents to the stages of a
    * frozen reference curriculum — the live-ingest twin of
    * [[curriculumStages]], same role [[dsirScoreAgainst]] plays for
    * DSIR. A probe doc joins the BEST (lowest-numbered) stage whose
    * quality floor it meets; below every floor it falls to stage k.
    *
    * Stream-compatible by the same construction as the DSIR gate: the
    * probe side is one scalar-feature projection, a broadcast join
    * against the k-row threshold frame, and a single aggregation — so
    * the IDENTICAL code runs as a Structured Streaming stream-static
    * query (StreamingSpec pins stream ≡ batch). The reference corpus
    * is scanned once when thresholds are built, never per probe batch. */
  def curriculumAssign(probe: DataFrame, thresholds: DataFrame,
                       k: Int = CurriculumStages): DataFrame = {
    val scored = TextStats.qualityFeatures(probe)
      .select(col("doc_id"), col("quality_score"))
    // LEFT join on true, not crossJoin: identical fan-out for a
    // non-empty threshold frame, but an EMPTY one must default every
    // probe to stage k, not annihilate the batch (cross with empty = 0
    // rows — a silent data-loss mode for a misconfigured gate)
    scored.join(broadcast(thresholds), lit(true), "left")
      .groupBy(col("doc_id"), col("quality_score"))
      .agg(coalesce(
        min(when(col("quality_score") >= col("floor_score"), col("stage"))),
        lit(k.toLong)).as("stage"))
      .select(col("doc_id"), col("quality_score"), col("stage"))
  }

  def qCurriculumAdmission(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // probe = every 5th doc (the setsim-incremental convention);
    // reference = the standing 80% the floors were frozen from
    val probe = docs.filter(col("doc_id") % 5 === 0)
    val reference = docs.filter(col("doc_id") % 5 =!= 0)
    curriculumAssign(probe, curriculumThresholds(reference))
      .orderBy(col("doc_id"))
  }
}
