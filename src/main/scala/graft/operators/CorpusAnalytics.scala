package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.tables.Tables

/** Corpus-level analytics beyond hygiene filtering: n-gram language-model
  * statistics, stratified rebalancing, the positional inverted index, and
  * near-dup cluster survivorship. These compose the primitives the dedup
  * and stats operators already expose — the point of this file is the
  * COMPOSITIONS a training-data team actually ships.
  *
  * Scale stance: every candidate set is keyed (doc_id, token, cluster_id)
  * with map-side partial aggregation; the only broadcasts are fixed-K
  * frames (top-K vocab, per-stratum thresholds, a 1-row global min).
  * Windows are partitioned by doc or cluster — never global.
  */
object CorpusAnalytics {

  // ---------------------------------------------------------------------
  // Bigram next-token statistics
  // ---------------------------------------------------------------------

  val BigramHeads = 20
  val BigramPerHead = 3

  /** Bigram language-model head: for the `heads` most frequent bigram
    * first-tokens, the `perHead` most frequent next tokens with counts —
    * the "what follows X" table a data-quality reviewer reads to spot
    * boilerplate and the first stage of an n-gram LM.
    *
    * Adjacency comes from a `lead` window over `(doc_id, pos)` — one
    * shuffle of the exploded tokens on `doc_id`, never a self-join of
    * position against position+1 (two shuffles of the same frame). The
    * head list is `limit(heads)` of an aggregate (bounded rows on the
    * driver path) and joins back as an explicit broadcast.
    */
  def bigramNext(docs: DataFrame,
                 heads: Int = BigramHeads,
                 perHead: Int = BigramPerHead): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = toks
      .withColumn("next_token", lead(col("token"), 1).over(byDoc))
      .where(col("next_token").isNotNull)
      .groupBy(col("token"), col("next_token"))
      .agg(count(lit(1)).as("n_pairs"))
    val headTotals = pairs
      .groupBy(col("token"))
      .agg(sum(col("n_pairs")).as("n_total"))
      .orderBy(col("n_total").desc, col("token"))
      .limit(heads)
    val byHead = Window.partitionBy(col("token"))
      .orderBy(col("n_pairs").desc, col("next_token"))
    pairs
      .join(broadcast(headTotals), "token")
      .withColumn("pair_rank", row_number().over(byHead).cast("long"))
      .where(col("pair_rank") <= perHead)
      .select(col("token").as("head"), col("n_total"), col("pair_rank"),
        col("next_token"), col("n_pairs"))
  }

  def qBigramNext(spark: SparkSession, dir: String): DataFrame =
    bigramNext(Tables.documents(spark, dir))
      .orderBy(col("head"), col("pair_rank"))

  val LiftMinPairs = 5L

  /** Bigram LIFT: observed adjacent-pair frequency over the frequency
    * expected if tokens were independent — n_xy · N_tok / (n_x · n_y),
    * the rational (log-free, hence bit-portable — the
    * [[TextStats.tfidfTopTerms]] precedent) monotone twin of PMI. Lift
    * ≫ 1 marks collocations (multi-word terms a tokenizer or phrase
    * miner should fuse); lift ≪ 1 marks boilerplate boundaries.
    *
    * Reuses the [[bigramNext]] adjacency shape (one `lead` window over
    * `(doc_id, pos)`); unigram counts ride the SAME exploded frame, and
    * the two count frames join on the pair's endpoints. The min-count
    * gate keeps the emitted surface to statistically meaningful pairs —
    * applied to n_xy BEFORE the joins, so rare pairs never reach them.
    * All arithmetic is integer counts and one fixed multiply/divide
    * chain per row. */
  def bigramLift(docs: DataFrame, minPairs: Long = LiftMinPairs): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val uni = toks.groupBy(col("token")).agg(count(lit(1)).as("n_tok"))
    val nTotal = uni.agg(sum(col("n_tok")).as("n_total"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val pairs = toks
      .withColumn("next_token", lead(col("token"), 1).over(byDoc))
      .where(col("next_token").isNotNull)
      .groupBy(col("token"), col("next_token"))
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minPairs)
    pairs
      .join(uni.select(col("token"), col("n_tok").as("n_head")), "token")
      .join(uni.select(col("token").as("next_token"),
        col("n_tok").as("n_next")), "next_token")
      .crossJoin(broadcast(nTotal))
      .select(col("token").as("head"), col("next_token"),
        col("n_pair"), col("n_head"), col("n_next"),
        (col("n_pair").cast("double") * col("n_total").cast("double") /
          (col("n_head").cast("double") * col("n_next").cast("double")))
          .as("lift"))
  }

  def qBigramLift(spark: SparkSession, dir: String): DataFrame =
    bigramLift(Tables.documents(spark, dir))
      .orderBy(col("head"), col("next_token"))

  // ---------------------------------------------------------------------
  // Rare-bigram novelty (per-document quality/novelty signal)
  // ---------------------------------------------------------------------

  /** Corpus-count ceiling under which a bigram counts as "rare". */
  val RareBigramMax = 2L

  /** Per-document rare-bigram novelty: of a document's adjacent token
    * pairs, how many occur ≤ [[RareBigramMax]] times in the WHOLE
    * corpus (the doc's own occurrences included). High ratio = novel
    * or gibberish text; low ratio = boilerplate assembled from common
    * transitions — the integer-exact cousin of an LM-perplexity
    * filter, usable as a curation gate without a float log anywhere
    * (n_rare/n_bigrams is one terminal division of two exact BIGINTs,
    * IEEE-identical in both engines).
    *
    * Plan: adjacency comes from `zip_with` over two array slices —
    * MAP-SIDE, no positional window, so neither consumer of the
    * occurrence stream pays a token-stream shuffle (contrast
    * [[bigramNext]], which needs positions and documents its window;
    * here adjacency inside one row's array is enough). Corpus pair
    * counts aggregate the stream (1 row per distinct bigram); the
    * probe joins occurrences back on the (head, next) key — a keyed
    * equi-join against an AGGREGATED side (AQE broadcasts it when
    * small, skew-splits the stream side when a boilerplate bigram is
    * hot; nothing all-pairs) — then one per-doc aggregate. Documents
    * with fewer than two tokens carry no bigram and emit no row (the
    * oracle's GROUP BY agrees). */
  def rareBigramNovelty(docs: DataFrame, maxN: Long = RareBigramMax): DataFrame = {
    val ts = tokens(col("text"))
    val prs = zip_with(
      slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
      slice(ts, lit(2), greatest(size(ts) - 1, lit(0))),
      (a, b) => struct(a.as("token"), b.as("next_token")))
    val occ = docs
      .select(col("doc_id"), explode(prs).as("p"))
      .select(col("doc_id"), col("p.token"), col("p.next_token"))
    val counts = occ.groupBy(col("token"), col("next_token"))
      .agg(count(lit(1)).as("n_corpus"))
    occ.join(counts, Seq("token", "next_token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("n_corpus") <= maxN, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams").cast("double"))
          .as("rare_ratio"))
  }

  def qRareBigrams(spark: SparkSession, dir: String): DataFrame =
    rareBigramNovelty(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------------
  // Source-vs-corpus token divergence (mixture drift)
  // ---------------------------------------------------------------------

  /** Per-source L1 divergence between the source's token distribution
    * and the whole corpus's — the mixture-debugging readout ("which
    * source is the outlier, and by how much") behind re-weighting
    * decisions. The L1 sum stays EXACT integers until one terminal
    * division: with n_st = source token counts, n_t = global counts,
    * N_s/N the totals,
    *
    *   L1 = Σ_t |p_s(t) − p(t)|
    *      = [ Σ_{t∈s} |n_st·N − n_t·N_s|  +  N_s·(N − G_s) ] / (N_s·N)
    *
    * where G_s = Σ_{t∈s} n_t — the absent-token tail folds into a
    * closed form, so NO source×vocab cross product is ever built.
    * Products run in DECIMAL(38,0) (the [[graft.operators.Similarity]]
    * dimVariance precedent: n_st·N ~ 10¹²·10¹⁴ bursts a BIGINT long
    * before a real corpus does; DuckDB's twin arithmetic is HUGEINT —
    * both exact). One exploded pass → (source, token) counts; global
    * counts re-aggregate THAT (never the corpus twice); the join back
    * is on the token key. Output per source: total tokens, the exact
    * integer numerator, and the exact denominator factor `n_all` —
    * the L1 ratio itself is `l1_num / (n_tokens_src · n_all)`, left
    * to the caller: a derived double's last-ulp depends on the
    * engine's summation order, so the comparable surface stays
    * integer-exact end to end.
    *
    * The (source, token) table is `persist`ed: four downstream
    * branches (global counts, source totals, the grand total, and the
    * join spine) would otherwise EACH replay the corpus explode —
    * static plans carry no common-subexpression sharing, and betting
    * on runtime exchange reuse leaves a 4× corpus-scan cliff if any
    * branch's exchange stops lining up. The persist pins the scan
    * count at one; the materialized frame is vocabulary-sized
    * (Heaps-bounded), not corpus-sized, and MEMORY_AND_DISK spills
    * rather than OOMs if a 100 TB vocabulary outgrows executor
    * memory. Persist (not `localCheckpoint`): a cached frame keeps
    * its full lineage, so every run recomputes from the same logical
    * plan — auditable determinism — where a checkpoint freezes
    * whatever partition bytes the first materialization happened to
    * produce. The trade either way: downstream predicates cannot
    * push below the cache into the corpus scan (callers filtering
    * one source still pay the full (source, token) build —
    * acceptable for a whole-corpus readout). The constant-per-group
    * totals are re-read with `min` (never `first`, which Catalyst
    * marks nondeterministic and which would un-pin the output under
    * partial-aggregation reordering). */
  def sourceTokenDivergence(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n_st"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val global = st.groupBy(col("token")).agg(sum(col("n_st")).as("n_t"))
    val totals = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
    val bigN = totals.agg(sum(col("n_s")).as("n_all"))
    val dec = "decimal(38,0)"
    val num = (col("_present") +
      col("n_tokens_src").cast(dec) * (col("_n_all") - col("_g_s")).cast(dec))
      .cast(dec)
    st.join(global, "token")
      .join(broadcast(totals), "source")
      .crossJoin(broadcast(bigN))
      .select(col("source"), col("n_s"), col("n_t"), col("n_all"),
        abs(col("n_st").cast(dec) * col("n_all").cast(dec) -
            col("n_t").cast(dec) * col("n_s").cast(dec)).cast(dec).as("_d"))
      .groupBy(col("source"))
      .agg(
        min(col("n_s")).as("n_tokens_src"),
        sum(col("_d")).cast(dec).as("_present"),
        sum(col("n_t")).as("_g_s"),
        min(col("n_all")).as("_n_all"))
      .select(col("source"), col("n_tokens_src"),
        col("_n_all").as("n_all"),
        // Internal arithmetic stays DECIMAL(38,0); only the emitted
        // surface narrows to BIGINT so both engines hash one integer
        // encoding. Width caveat: l1_num <= 2·N_s·N, so a true 100 TB
        // corpus (N ~ 1e13 tokens) would burst the long — at that scale
        // re-widen the surface (or emit the terminal double ratio) and
        // accept the weaker compare; the exact DECIMAL pipeline above
        // is unchanged either way.
        num.cast("bigint").as("l1_num"))
  }

  def qSourceDivergence(spark: SparkSession, dir: String): DataFrame =
    sourceTokenDivergence(Tables.documents(spark, dir)).orderBy(col("source"))

  // ---------------------------------------------------------------------
  // Stratified rebalancing sample
  // ---------------------------------------------------------------------

  /** Deterministic stratified downsample that EQUALIZES strata: each
    * language keeps ~`min_lang_count` docs via a portable md5 bucket in
    * [0, 10000) — the downsampling twin of
    * [[TrainPrep.domainUpsample]] (same integer threshold arithmetic,
    * same engine-portable hash, opposite direction). Never `sampleBy`:
    * its Bernoulli draw depends on partitioning and seed plumbing, so a
    * reshuffled corpus would keep a different subset.
    *
    * The per-stratum thresholds are one tiny aggregate crossed with a
    * 1-row global min — both explicit broadcasts; the corpus scan itself
    * is filtered map-side with no extra shuffle.
    */
  def stratifiedSample(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    val minN = counts.agg(min(col("n_l")).as("min_n"))
    val thresholds = counts
      .crossJoin(broadcast(minN))
      // integer floor division (`div`), NOT Column./: the latter is
      // double division, which drifts from the oracle's integer `//`
      // once min_n*10000 nears 2^53 (the domainUpsample precedent)
      .select(col("lang"), expr("(min_n * 10000) div n_l").as("thr"))
    docs
      .join(broadcast(thresholds), "lang")
      .where(md5Bits60(concat(lit("strat:"), col("doc_id").cast("string")))
        % 10000L < col("thr"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------------
  // Positional inverted index
  // ---------------------------------------------------------------------

  val PostingsK = 10

  /** Positional postings for the `k` most frequent tokens: per (token,
    * doc) the term frequency and first/last 0-based positions — the
    * inverted-index slice a phrase-search or span-highlight layer reads.
    *
    * The vocabulary is a bounded `limit(k)` aggregate broadcast into a
    * semi-filter of the exploded scan; the postings aggregate shuffles
    * once on (token, doc_id). At 100 TB the full index materializes the
    * same plan without the top-k cap, partitioned by token prefix.
    */
  def postings(docs: DataFrame, k: Int = PostingsK): DataFrame = {
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "token")))
    val top = toks
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(k)
      .select(col("token"))
    toks
      .join(broadcast(top), "token")
      .groupBy(col("token"), col("doc_id"))
      .agg(
        count(lit(1)).as("tf"),
        min(col("pos")).cast("long").as("first_pos"),
        max(col("pos")).cast("long").as("last_pos"))
  }

  def qPostings(spark: SparkSession, dir: String): DataFrame =
    postings(Tables.documents(spark, dir)).orderBy(col("token"), col("doc_id"))

  // ---------------------------------------------------------------------
  // Near-dup cluster survivorship
  // ---------------------------------------------------------------------

  /** Survivorship over the minhash near-dup clusters: every clustered
    * doc labeled with its cluster and whether it is the cluster's
    * SURVIVOR — the highest-quality member (ties to the lowest doc_id).
    * This is the policy step between "find the dup clusters" and "emit
    * the deduped corpus": keep the best spelling of each duplicated
    * document, not an arbitrary one.
    *
    * Quality comes from [[TextStats.qualityFeatures]] — both engines
    * derive the score identically (bit-proven by `q_quality_score`), so
    * ordering on the raw double is portable. The cluster labels ride the
    * same parquet-spill handoff as `q_dedup_clusters` (bounded driver
    * loop, no collect); the quality join keys on doc_id, the survivor
    * pick is a per-cluster window.
    */
  /** Survivorship over an ALREADY-LABELED cluster frame: quality is
    * scored ONLY over the clustered population (a left-semi against
    * the labels) — at web-crawl dup rates that is a fraction of the
    * corpus, and the tokenize/profile pass is the expensive part; the
    * full-corpus spelling would re-profile every document just to
    * discard the unclustered majority at the join. Label-source
    * invariant: `labels` may be a live [[TextDedup.dedupClusters]]
    * frame or its parquet read-back. */
  def survivorshipFromLabels(docs: DataFrame, labels: DataFrame): DataFrame = {
    val clustered = docs.join(
      labels.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val quality = TextStats.qualityFeatures(clustered)
      .select(col("doc_id"), col("quality_score"))
    val byCluster = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    labels
      .join(quality, "doc_id")
      .withColumn("is_survivor",
        (row_number().over(byCluster) === 1).cast("long"))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        col("is_survivor"))
  }

  def survivorship(docs: DataFrame): DataFrame = {
    import TextDedup.{minhashPairs, spillPath, withDedupClusters}
    val spark = docs.sparkSession
    withDedupClusters(minhashPairs(docs)) { labels =>
      val out = survivorshipFromLabels(docs, labels)
      val dir = spillPath(spark, "survivorship")
      out.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
  }

  def qSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    // served from the per-(JVM, dir) materialized label table — no
    // cache to release, so no per-query spill of the output either
    val docs = Tables.documents(spark, dir)
    survivorshipFromLabels(docs,
        TextDedup.clusterLabels(spark, dir, "all")(docs))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Duplicate-graph degree profile
  // ---------------------------------------------------------------------

  /** Degree profile of the near-dup graph: per clustered doc, how many
    * neighbors it pairs with and its strongest Jaccard — the triage view
    * for "is this corpus's duplication a few giant templates or many
    * small pairs", read before choosing cluster-vs-pairwise removal.
    *
    * One unionAll of the (already banded, already thresholded) pair list
    * with itself reversed, then a single keyed aggregate — degree never
    * materializes adjacency lists, so a mega-hub doc costs one counter,
    * not one row per neighbor.
    */
  def dupDegree(docs: DataFrame): DataFrame = {
    val pairs = TextDedup.minhashPairs(docs)
    pairs.select(col("doc_a").as("doc_id"), col("jaccard"))
      .unionAll(pairs.select(col("doc_b").as("doc_id"), col("jaccard")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_neighbors"), max(col("jaccard")).as("max_jaccard"))
  }

  def qDupDegree(spark: SparkSession, dir: String): DataFrame =
    dupDegree(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // ---------------------------------------------------------------------
  // BM25 ranked search
  // ---------------------------------------------------------------------

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  val Bm25Terms: Seq[String] = Seq("join", "merge", "window")

  /** BM25-ranked retrieval for a fixed query-term set: the ranking layer
    * over the [[postings]] inverted index. Two portability choices make
    * the doubles engine-exact: the idf stays RATIONAL
    * ((N − df + 0.5)/(df + 0.5), same monotone ranking as the log form —
    * the [[TextStats.tfidfTopTerms]] precedent), and the per-term scores
    * pivot into FIXED columns added left-to-right, because a `sum()`
    * over doubles would be partition-order-dependent. Every remaining
    * op (±, ×, ÷ on identically-ordered operands) is IEEE
    * correctly-rounded, hence bit-identical across engines. dl is
    * integer-valued, so even `sum(dl)` for avgdl is exact. NB the
    * rational idf preserves the log form's ranking PER TERM only; the
    * summed multi-term score can order documents differently than
    * log-idf BM25 would (engine parity is unaffected — both engines
    * compute the identical rational formula).
    *
    * Plan: the doc-length pass is map-side (`size(tokens)`); tf shuffles
    * once on (doc_id, token) with the query-term filter pushed below the
    * explode; df and the corpus stats are bounded aggregates joined back
    * as explicit broadcasts; top-k is TakeOrderedAndProject, never a
    * global window. */
  def bm25Search(docs: DataFrame,
                 terms: Seq[String] = Bm25Terms,
                 k1: Double = Bm25K1,
                 b: Double = Bm25B,
                 topK: Int = Bm25TopK): DataFrame = {
    val withDl = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("double").as("dl"), col("text"))
    val stats = withDl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val tf = withDl
      .select(col("doc_id"), col("dl"),
        explode(tokens(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = tf
      .join(broadcast(dfreq), "token")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
      .withColumn("norm",
        lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / col("avgdl"))))
      .withColumn("score",
        col("idf") * ((col("tf") * (lit(k1) + lit(1.0))) /
          (col("tf") + col("norm"))))
    val pivots = terms.map(t =>
      max(when(col("token") === t, col("score"))).as(s"s_$t"))
    val total = terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
      .reduceLeft(_ + _)
    scored.groupBy(col("doc_id"))
      .agg(pivots.head, pivots.tail: _*)
      .withColumn("bm25", total)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  def qBm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Search(Tables.documents(spark, dir))
      .orderBy(col("bm25").desc, col("doc_id"))

  // ---------------------------------------------------------------------
  // Temperature-scaled language mix
  // ---------------------------------------------------------------------

  val MixTempBuckets = 10000L

  /** Temperature-flattened language sampling (τ = 1/2): each language's
    * keep probability is √(n_l / n_max) — the standard multilingual
    * rebalance that up-weights tail languages RELATIVE to the head
    * without equalizing them (the τ → 0 limit, which
    * [[stratifiedSample]] implements). Anchoring to the LARGEST
    * language (not the normalized Σ p^τ form) keeps every double op a
    * single correctly-rounded sqrt/divide/floor chain — portable — and
    * means the head language keeps everything while each tail keeps a
    * √-flattened fraction.
    *
    * The per-language thresholds are one tiny aggregate crossed with a
    * 1-row max — both broadcast; membership is the same salted-md5
    * integer bucket as [[TrainPrep.domainUpsample]], so the realized
    * sample is deterministic under any partitioning, with no `rand()`.
    * Emits the audit view (counts + threshold + realized keeps); the
    * kept rows themselves are the same filter without the final
    * aggregate. */
  def temperatureMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    val maxN = counts.agg(max(col("n_l")).as("max_n"))
    val thresholds = counts
      .crossJoin(broadcast(maxN))
      .select(col("lang"), col("n_l"),
        floor(sqrt(col("n_l").cast("double") / col("max_n").cast("double"))
          * lit(MixTempBuckets.toDouble)).cast("long").as("thr"))
    docs
      .join(broadcast(thresholds), "lang")
      .withColumn("kept",
        (md5Bits60(concat(lit("temp:"), col("doc_id").cast("string")))
          % MixTempBuckets < col("thr")).cast("long"))
      .groupBy(col("lang"), col("n_l"), col("thr"))
      .agg(sum(col("kept")).as("n_kept"))
  }

  def qTemperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMix(Tables.documents(spark, dir)).orderBy(col("lang"))

  /** CUBE over the corpus dimensions — per (lang, source) cell plus
    * all rollup margins in one pass (the documents twin of
    * `q_events_cube`): doc counts and exact token sums, with the
    * GROUPING id disambiguating a real NULL dimension from a margin
    * row. Grouping sets share one shuffle; at 100 TB this replaces
    * four separate aggregate jobs. */
  def corpusCube(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("source"),
        size(tokens(col("text"))).cast("long").as("nt"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        grouping_id().as("gid"))

  def qCorpusCube(spark: SparkSession, dir: String): DataFrame =
    corpusCube(Tables.documents(spark, dir))
      .orderBy(col("gid"), col("lang"), col("source"))

  val GrowthCheckpoints = 5

  /** Vocabulary growth curve (the Heaps-law readout): distinct token
    * count within each of [[GrowthCheckpoints]] nested doc_id prefixes
    * of the corpus — sublinear growth says the vocabulary is
    * saturating (dedup what remains); near-linear growth says new
    * material keeps arriving. Checkpoints are integer fractions of
    * (max doc_id + 1), so the same query self-scales to any corpus
    * size. ONE exploded pass with K conditional `count(DISTINCT)`
    * aggregates — never K scans; the max-id frame is a 1-row
    * broadcast.
    *
    * COST CAVEAT: K count-distincts in one aggregate plan as an
    * Expand ×K of the exploded token stream (Catalyst rewrites
    * multi-distinct via Expand), so the shuffled volume is K× the
    * token count. Acceptable for a one-shot corpus readout at small
    * fixed K; do NOT call this inside a loop or with large K — a
    * repeated readout should reuse one materialized (doc_id, token)
    * frame and K separate filtered distinct-counts, or an HLL sketch
    * per checkpoint. */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val k = GrowthCheckpoints
    val mx = docs.agg((max(col("doc_id")) + 1L).as("n_ids"))
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("token"))
    // `div`, not `/`: Column./ is double division; the checkpoint must
    // stay an exact integer id bound in both engines
    val aggs = (1 to k).map(i =>
      countDistinct(when(col("doc_id") < expr(s"n_ids * $i div $k"),
        col("token"))).as(s"vocab_at_$i"))
    toks.crossJoin(broadcast(mx))
      .agg(aggs.head, aggs.tail: _*)
  }

  def qVocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowth(Tables.documents(spark, dir))

  // ---------------------------------------------------------------------
  // Per-source duplication rates
  // ---------------------------------------------------------------------

  /** Duplication observability: per source, how many docs sit in at
    * least one near-dup pair and the duplicated fraction — the triage
    * report that decides WHERE dedup budget goes (one boilerplate-heavy
    * crawl source usually dominates). Rides the banded
    * [[TextDedup.minhashPairs]] candidates (never all-pairs); the
    * pair→doc projection is a distinct over ids, the rate one
    * count/count rational per source. */
  def dedupRates(docs: DataFrame): DataFrame = {
    val pairs = TextDedup.minhashPairs(docs)
    val duped = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    docs.select(col("doc_id"), col("source"))
      .join(duped.withColumn("is_duped", lit(1L)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_duped"), lit(0L))).as("n_duped"))
      .withColumn("dup_rate",
        col("n_duped").cast("double") / col("n_docs").cast("double"))
  }

  def qDedupRates(spark: SparkSession, dir: String): DataFrame =
    dedupRates(Tables.documents(spark, dir)).orderBy(col("source"))

  // ---------------------------------------------------------------------
  // Mergeable per-source stats (incremental maintenance)
  // ---------------------------------------------------------------------

  /** Per-source corpus stats where EVERY measure is a sum/count —
    * deliberately: sums merge, so yesterday's materialized stats plus a
    * new batch's stats equal the full recompute without touching
    * history ([[mergeSourceStats]]; the [[Analytics.scd2Merge]]
    * incremental-contract precedent). At 100 TB this is the difference
    * between a nightly full-corpus aggregate and folding in one day's
    * landing. Means/ratios are derived at READ time from the summed
    * numerators/denominators — storing them would break mergeability. */
  def sourceStats(docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast("long")).as("n_toks"),
      sum(col("n_chars")).as("n_chars_sum"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))

  /** Fold a delta batch's stats into the standing state: unionByName +
    * re-sum. All-integer arithmetic, so merge(state, delta) is EXACTLY
    * the full recompute (spec'd, plus the oracle re-derives from
    * scratch). */
  def mergeSourceStats(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_toks")).as("n_toks"),
        sum(col("n_chars_sum")).as("n_chars_sum"),
        sum(col("n_en")).as("n_en"))

  /** The contract as an oracle query: stats of a standing 80% merged
    * with the 20% delta (deterministic doc_id split), checked against
    * the oracle's single-pass recompute over everything. */
  def qSourceStatsMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val state = sourceStats(docs.filter(col("doc_id") % 5 =!= 0))
    val delta = sourceStats(docs.filter(col("doc_id") % 5 === 0))
    mergeSourceStats(state, delta).orderBy(col("source"))
  }

  // ---------------------------------------------------------------------
  // Guaranteed heavy hitters (two-pass: MG candidates → exact verify)
  // ---------------------------------------------------------------------

  /** Heavy ⟺ n_occurrences · k > N (strictly more than a 1/k share). */
  val HeavyK = 32
  /** Misra–Gries capacity. The two-pass result is EXACT whenever
    * `capacity + 1 ≥ k` (candidate pass retains everything above
    * N/(capacity+1) ≤ N/k); 2× headroom keeps the guarantee obvious
    * and the candidate tail useful for near-threshold diagnostics. */
  val HeavyCapacity = 64

  /** All tokens holding strictly more than a 1/k share of the corpus
    * token stream, with EXACT counts — without ever shuffling the full
    * vocabulary.
    *
    * Pass 1 summarizes each scan task's tokens into a ≤`capacity`-entry
    * Misra–Gries map (native [[graft.expressions.MisraGriesTokens]],
    * map-side partial aggregation: only ≤capacity entries per task
    * cross the wire, merged under the Mergeable-Summaries rule). Any
    * token with true count > N/(capacity+1) survives the merge, so
    * with capacity+1 ≥ k the candidate array is a SUPERSET of the true
    * heavy set. Pass 2 semi-joins the token stream against the
    * broadcast candidates (≤capacity rows — a fixed-K broadcast) and
    * counts exactly; the final filter n·k > N drops the false
    * candidates. Net effect at 100 TB: the count shuffle carries only
    * tokens that are plausibly heavy (≤capacity distinct keys) instead
    * of the billions-strong distinct vocabulary, and the verdict is
    * still exact — the [[graft.operators.TextDedup]] candidate→verify
    * discipline applied to frequency mining.
    *
    * All arithmetic is integer (count × k vs N), so the oracle — a
    * plain GROUP BY … HAVING over the same threshold — hash-matches
    * structurally; the sketch affects WHAT WORK HAPPENS, never the
    * answer (capacity-invariance and partitioning-invariance are
    * spec-pinned). */
  def heavyHitters(docs: DataFrame, k: Int = HeavyK,
                   capacity: Int = HeavyCapacity): DataFrame = {
    require(capacity + 1 >= k,
      s"heavyHitters: capacity+1 ($capacity+1) must be ≥ k ($k) for the " +
        "candidate pass to retain every true heavy hitter")
    val toks = docs.select(tokens(col("text")).as("toks"))
    val cands = toks
      .agg(call_function("misra_gries", col("toks"), lit(capacity)).as("cs"))
      .select(explode(col("cs")).as("token"))
    verifyHeavyCandidates(docs, cands, k)
  }

  /** The exact-verify stage of [[heavyHitters]], callable against ANY
    * candidate set — in particular the standing candidates a
    * [[streamingHeavyCandidates]] query maintains (the "cheap periodic
    * batch probe" its scaladoc promises). MG guarantees every token
    * above the 1/k share survives in the candidate set regardless of
    * merge order, so exact-verify(streamed candidates) ≡ the one-shot
    * batch operator — pinned by StreamingSpec. `cands` must expose a
    * `token` column; it is ≤capacity rows, hence broadcast. */
  def verifyHeavyCandidates(docs: DataFrame, cands: DataFrame,
                            k: Int = HeavyK): DataFrame = {
    val total = docs.select(tokens(col("text")).as("toks"))
      .agg(sum(size(col("toks")).cast("long")).as("n_total"))
    docs.select(explode(tokens(col("text"))).as("token"))
      .join(broadcast(cands.select(col("token"))), Seq("token"), "left_semi")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(total))
      .filter(col("n_occurrences") * k > col("n_total"))
      .select(col("token"), col("n_occurrences"), col("n_total"))
  }

  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    heavyHitters(Tables.documents(spark, dir))
      .orderBy(col("n_occurrences").desc, col("token"))
  }

  /** Boilerplate-token strip driven by [[heavyHitters]]: the training
    * emit with every token holding a > 1/k corpus share removed — the
    * token-level analogue of the repeated-span strip (a token that is
    * 5% of a 100 TB stream is markup/template residue, not language;
    * stop-lists catch English glue, this catches the CORPUS's own
    * glue without a curated list).
    *
    * Plan: the heavy set collapses to a ONE-ROW array (≤capacity
    * entries, the same bounded-collect discipline as the IVF
    * centroids) and broadcasts onto a map-side array filter — the
    * rebuild never shuffles the corpus, and position order is
    * preserved by construction because `filter` keeps relative order
    * in both engines. */
  def stripHeavyTokens(docs: DataFrame, k: Int = HeavyK,
                       capacity: Int = HeavyCapacity): DataFrame = {
    val heavy = heavyHitters(docs, k, capacity)
      .agg(collect_list(col("token")).as("hv"))
    val ts = tokens(col("text"))
    docs.crossJoin(broadcast(heavy))
      .select(col("doc_id"), size(ts).cast("long").as("n_before"),
        filter(ts, t => !array_contains(col("hv"), t)).as("kept"))
      .select(col("doc_id"), col("n_before"),
        size(col("kept")).cast("long").as("n_after"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  def qStripHeavy(spark: SparkSession, dir: String): DataFrame =
    stripHeavyTokens(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Streaming candidate maintenance: the SAME native Misra–Gries
    * aggregate run as a streaming aggregation in complete mode — each
    * micro-batch's partial summaries merge into the standing state
    * under the identical Mergeable-Summaries rule, so the guarantee
    * (every token above the N/(capacity+1) share survives) holds for
    * WHATEVER merge order arrival imposes. The candidate TAIL may
    * differ from a batch run's — the heavy survivors cannot; the spec
    * pins streamed-candidates → exact-verify ≡ the batch operator.
    * This is the standing trending-tokens state a live ingest keeps,
    * with the exact verify running as a cheap periodic batch probe. */
  def streamingHeavyCandidates(streamDocs: DataFrame,
                               capacity: Int = HeavyCapacity): DataFrame =
    streamDocs.select(tokens(col("text")).as("toks"))
      .agg(call_function("misra_gries", col("toks"), lit(capacity))
        .as("cands"))

  // ---------------------------------------------------------------------
  // Bigram-LM perplexity filter (CCNet-style, leave-one-out)
  // ---------------------------------------------------------------------

  /** Leave-one-out bigram-LM perplexity score per document, with
    * per-language head/middle/tail bucketing — the CCNet/Wenzek quality
    * gate (perplexity under a corpus LM, bucketed per language) without
    * a separate trained model: the corpus IS the model, and each doc is
    * scored against the corpus MINUS ITSELF, so a document whose
    * transitions exist only in itself (template residue, mojibake,
    * keyword stuffing) scores as the outlier it is instead of certifying
    * its own fluency.
    *
    * Per bigram position with leave-one-out counts (corpus count minus
    * this doc's own), in order:
    *   - seen in the rest: ln p = ln c_rest − ln h_rest (conditional MLE);
    *   - head-or-pair unseen, next token known: stupid backoff
    *     λ·unigram with λ = 2/5 (Brants et al.'s 0.4, kept rational);
    *   - token itself unique to this doc: floor at 1/N_rest.
    *
    * EXACT COMPARE SURFACE: every log is quantized to integer
    * micro-nats at the leaf — `round(1e6·ln(n))` of an INTEGER count —
    * before any arithmetic, so scores sum as exact BIGINTs and the
    * engine's summation order cannot move an ulp (the
    * [[sourceTokenDivergence]] lesson). The only doubles are one
    * terminal division (IEEE-exact, identical bits both engines) and
    * the window ordering built on it.
    *
    * Plan shape (100 TB): exactly TWO corpus scans — one bigram pass,
    * one unigram pass — each collapsing immediately to a persisted
    * (doc, gram) count table; every corpus-level table (bigram/head/
    * unigram counts, the grand total) RE-AGGREGATES a cache rather
    * than rescanning the corpus (the divergence precedent). Unlike the
    * divergence persist (vocab-sized), these caches are CORPUS-scale —
    * (doc, gram) rows ≈ distinct grams per doc summed — so
    * MEMORY_AND_DISK spill is load-bearing, not a formality; the trade
    * is deliberate: each cache is read by 2–3 branches, and the
    * alternative is that many extra corpus scans + explodes. All joins
    * are equi-joins on (w1,w2)/(doc_id,w1)/w2, vocabulary- or
    * corpus-keyed, no cross products; the grand total is a broadcast
    * 1-row frame. Bucketing windows partition BY LANGUAGE (as CCNet
    * does) — never global; a monolingual 100 TB corpus would swap the
    * exact ntile for approx-quantile boundaries, same emitted schema.
    *
    * Output: (doc_id, lang, n_positions, nats_micro, nats_per_pos,
    * ppl_bucket) for every doc with ≥ 2 tokens.
    */
  def lmPerplexity(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("nats_per_pos"), col("doc_id"))
    perplexityScored(docs)
      .withColumn("_t", ntile(3).over(w))
      .withColumn("ppl_bucket",
        when(col("_t") === 1, "head")
          .when(col("_t") === 2, "middle")
          .otherwise("tail"))
      .drop("_t")
  }

  /** The shared leave-one-out scoring chain of [[lmPerplexity]] /
    * [[lmPerplexityApprox]]: (doc_id, lang, n_positions, nats_micro,
    * nats_per_pos) for every doc with ≥ 2 tokens — everything except
    * the bucket assignment. */
  private def perplexityScored(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .withColumn("m", size(col("toks")).cast("long"))
      .filter(col("m") >= 2)
    val perDoc = base
      .select(col("doc_id"), col("lang"), col("m"),
        explode(expr(
          "transform(sequence(1, cast(size(toks) as int) - 1), " +
            "i -> struct(toks[i-1] as w1, toks[i] as w2))")).as("b"))
      .select(col("doc_id"), col("lang"), col("m"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("lang"), col("m"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusBg   = perDoc.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("c"))
    val corpusHead = perDoc.groupBy(col("w1")).agg(sum(col("k")).as("h"))
    // model tables pre-join on their OWN (vocabulary-sized) keys so the
    // corpus-sized scoring frame shuffles once per key family, not once
    // per table: bgStats carries (c, h) in one probe, uniStats (u2_d,
    // u2); the per-doc head count comes from a window over the SAME
    // (doc_id, w1) clustering instead of a third aggregate + join
    val bgStats = corpusBg.join(corpusHead, Seq("w1"))
    // persisted like perDoc: corpusUni, the grand total AND the probe
    // join all read it — without the cache each branch would replay the
    // corpus explode (4 scans instead of 2)
    val docUni = base
      .select(col("doc_id"), explode(col("toks")).as("w2"))
      .groupBy(col("doc_id"), col("w2")).agg(count(lit(1)).as("u2_d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusUni = docUni.groupBy(col("w2")).agg(sum(col("u2_d")).as("u2"))
    val uniStats = docUni.join(corpusUni, Seq("w2"))
    // Σ per-doc unigram counts ≡ Σ m over scored docs — derived from
    // the cache, never a third corpus scan
    val bigN = docUni.agg(sum(col("u2_d")).as("n_all"))

    // integer micro-nats of an integer count — quantize at the leaf
    def qln(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      qlnMicro(c)
    val cRest = col("c") - col("k")
    val hRest = col("h") - col("h_d")
    val uRest = col("u2") - col("u2_d")
    // degenerate-corpus guard: when ONE doc holds every token,
    // n_all == m and the floor would be ln(0) — Spark yields null,
    // DuckDB's ln errors, and the engines diverge. Clamp to 1 token
    // (ln 1 = 0): the floor for a doc that IS the whole corpus is a
    // zero-information score, matching the leave-one-out reading
    val nRest = greatest(col("n_all") - col("m"), lit(1L))
    val lp = when(cRest > 0, qln(cRest) - qln(hRest))
      .when(uRest > 0, qln(lit(2)) - qln(lit(5)) + qln(uRest) - qln(nRest))
      .otherwise(-qln(nRest))

    // ONE doc_id-keyed exchange for the post-cache doc-side chain (r22,
    // §2.4): the per-(doc_id, w1) head-count window and the final
    // per-doc sum both cluster on key families CONTAINING doc_id, so an
    // explicit doc_id repartition of the cache read serves both via
    // Spark's subset rule — the pre-r22 plan paid a separate
    // corpus-scale exchange per family ((doc_id, w1) for the window,
    // (doc_id, lang, m) for the sum; the model-table joins between them
    // are broadcasts and preserve the partitioning). doc_id is the
    // frame's highest-cardinality column, so no skew. At 100 TB, where
    // the vocabulary-keyed model joins outgrow broadcasts and force
    // their own exchanges of this frame, the shape degrades to exactly
    // the old one — never below it.
    val scored = perDoc
      .repartition(col("doc_id"))
      .withColumn("h_d",
        sum(col("k")).over(Window.partitionBy(col("doc_id"), col("w1"))))
      .join(bgStats, Seq("w1", "w2"))
      .join(uniStats, Seq("doc_id", "w2"))
      .crossJoin(broadcast(bigN))
      .groupBy(col("doc_id"), col("lang"), col("m"))
      .agg((-sum(col("k") * lp)).as("nats_micro"))
    val ratio = col("nats_micro").cast("double") /
      (col("m") - 1).cast("double")
    scored
      .select(col("doc_id"), col("lang"),
        (col("m") - 1).as("n_positions"),
        col("nats_micro"), ratio.as("nats_per_pos"))
  }

  /** [[lmPerplexity]] with APPROXIMATE bucket boundaries — the
    * documented monolingual-100-TB swap made a real code path (the
    * [[TrainPrep.curriculumStagesApprox]] pattern applied here): the
    * exact per-language `ntile(3)` is one global sort PER LANGUAGE
    * PARTITION, and a monolingual corpus makes that a single
    * global-sort partition — the classic scale-killer. Here bucket
    * membership comes from two `percentile_approx` boundaries of
    * `nats_per_pos` per language (one mergeable t-digest aggregate
    * over the scored frame — fixed memory per language, partial-
    * aggregable) broadcast back onto the same frame, so there is NO
    * per-language ordering anywhere: the only exchanges are the
    * scoring chain's own joins plus one tiny boundary aggregate.
    *
    * Same emitted schema as [[lmPerplexity]]; assignment is
    * `nats_per_pos ≤ b₁ → head, ≤ b₂ → middle, else tail` (ascending
    * nats = descending quality, matching the exact ntile's ordering).
    * Not oracle-hashable (t-digest internals are engine-specific) —
    * rows-only harness entry plus the accuracy-contract spec
    * (CorpusAnalyticsSpec: every doc within one bucket of exact). */
  def lmPerplexityApprox(docs: DataFrame, accuracy: Int = 10000): DataFrame = {
    // persisted because BOTH branches below read it — the boundary
    // aggregate and the assignment join would otherwise each replay
    // the scoring chain's joins + window from the (doc, gram) caches
    // (measured: the approx form timed SLOWER than the exact ntile it
    // replaces until this doc-scale frame was cached). One row per
    // scored doc, far smaller than the chain's own (doc, gram)
    // persists, so the footprint is a rounding error next to them.
    val scored = perplexityScored(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = scored.groupBy(col("lang"))
      .agg(percentile_approx(col("nats_per_pos"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("bs"))
    scored.join(broadcast(bounds), Seq("lang"))
      .withColumn("ppl_bucket",
        when(col("nats_per_pos") <= element_at(col("bs"), 1), "head")
          .when(col("nats_per_pos") <= element_at(col("bs"), 2), "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_positions"),
        col("nats_micro"), col("nats_per_pos"), col("ppl_bucket"))
  }

  def qLmPerplexity(spark: SparkSession, dir: String): DataFrame =
    lmPerplexity(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  def qLmPerplexityApprox(spark: SparkSession, dir: String): DataFrame =
    lmPerplexityApprox(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // --- quality distribution drift (PSI) ---

  /** Bin width for the PSI histogram: a power of two, so the division
    * is float-exact and both engines bin identically. The quality score
    * is bounded in [-1, 2.6] ([[TextStats.qualityFeatures]]), so ~30
    * bins — the totals broadcast is O(bins), never corpus-scale. */
  val DriftBinWidth = 0.125

  /** Population Stability Index readout between a reference corpus and
    * a probe increment over the quality-score distribution — the "has
    * the crawl changed under me" alarm a live curation pipeline watches
    * (PSI > 0.2 is the conventional retrain trigger). Per bin:
    * `(p - r) · ln(p/r)` where p/r are the probe/reference shares; the
    * PSI is the sum of `psi_part` over non-null rows.
    *
    * Exactness across engines: the log rides integer micro-nats at the
    * leaf (`qlnMicro(n_probe) - qlnMicro(tot_probe) - qlnMicro(n_ref)
    * + qlnMicro(tot_ref)` — counts only, no products, so no overflow at
    * any corpus size), and `psi_part` is one identical double chain on
    * top. A bin present on one side only gets a NULL `dln_micro` (the
    * new/vanished-bin alert rows, the [[Analytics.valueDrift]] rule —
    * their mass is what a drift monitor must NOT average away).
    *
    * Scale: two corpus scans (one per side) collapsing to O(bins)
    * aggregates, a full-outer join of two tiny frames, one 1-row totals
    * broadcast. */
  /** Quality-score histogram of a corpus — the (bin, count) frame the
    * drift monitor freezes for its reference side. Null-text docs score
    * a NULL quality ([[TextStats.qualityFeatures]] propagates null);
    * they bin to the `Long.MaxValue` sentinel bucket (after every real
    * bin — the [[TrainPrep.curriculumStages]] convention) rather than a
    * NULL bin, because the downstream full-outer join matches on `bin`
    * and null keys never match: two identical corpora that both carry
    * null-text docs would otherwise raise a one-sided-bin false alarm
    * in [[driftAlert]]. */
  def driftHistogram(docs: DataFrame, out: String,
                     binWidth: Double = DriftBinWidth): DataFrame =
    TextStats.qualityFeatures(docs)
      .select(coalesce(floor(col("quality_score") / binWidth).cast("long"),
        lit(Long.MaxValue)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(out))

  /** PSI finalization over two ALREADY-BINNED histograms — shared by
    * the batch readout and the streaming monitor's foreachBatch, so the
    * live twin runs the identical arithmetic. */
  def psiOfHistograms(refHist: DataFrame, probeHist: DataFrame): DataFrame = {
    val joined = refHist
      .join(probeHist, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_probe"), lit(0L)).as("n_probe"))
    val totals = joined.agg(sum(col("n_ref")).as("tot_ref"),
      sum(col("n_probe")).as("tot_probe"))
    joined.crossJoin(broadcast(totals))
      .withColumn("dln_micro",
        when(col("n_ref") > 0L && col("n_probe") > 0L,
          qlnMicro(col("n_probe")) - qlnMicro(col("tot_probe"))
            - qlnMicro(col("n_ref")) + qlnMicro(col("tot_ref"))))
      .withColumn("psi_part",
        when(col("dln_micro").isNotNull,
          (col("n_probe").cast("double") / col("tot_probe").cast("double")
            - col("n_ref").cast("double") / col("tot_ref").cast("double"))
            * col("dln_micro").cast("double") / lit(1e6)))
      .select(col("bin"), col("n_ref"), col("n_probe"),
        col("dln_micro"), col("psi_part"))
  }

  def qualityDrift(reference: DataFrame, probe: DataFrame,
                   binWidth: Double = DriftBinWidth): DataFrame =
    psiOfHistograms(driftHistogram(reference, "n_ref", binWidth),
      driftHistogram(probe, "n_probe", binWidth))

  /** The ALARM line a drift monitor pages on: total PSI plus the mass
    * sitting in alert (one-sided) bins, one row. The PSI total rides an
    * integer surface — each bin's psi_part is rounded to nano-units
    * BEFORE the sum (round-then-sum is order-independent; a double sum
    * across bins would depend on partition order and diverge between
    * engines). `new_mass`/`gone_mass` are the probe/reference documents
    * in bins the other side never produced — the smoothed-away tail a
    * scalar PSI alone would hide (PSI > 0.2 is the conventional
    * retrain trigger; non-zero alert mass is the "distribution moved
    * somewhere new" page). */
  def driftAlert(reference: DataFrame, probe: DataFrame,
                 binWidth: Double = DriftBinWidth): DataFrame =
    qualityDrift(reference, probe, binWidth).agg(
      sum(coalesce(round(col("psi_part") * 1e9).cast("long"), lit(0L)))
        .as("psi_nano"),
      sum(when(col("dln_micro").isNull, 1L).otherwise(0L)).as("n_alert_bins"),
      sum(when(col("dln_micro").isNull, col("n_probe")).otherwise(0L))
        .as("new_mass"),
      sum(when(col("dln_micro").isNull, col("n_ref")).otherwise(0L))
        .as("gone_mass"))

  def qDriftAlert(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    driftAlert(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  /** The LIVE drift monitor: probe documents stream in, their quality
    * histogram accumulates as the ONE streaming aggregation
    * (complete-mode cumulative bin counts — the stream-legal half of
    * the computation), and each trigger's foreachBatch finalizes PSI
    * against the FROZEN reference histogram with [[psiOfHistograms]] —
    * the same arithmetic as the batch readout, so stream ≡ batch once
    * every probe file has arrived (StreamingSpec pins it). The
    * reference corpus is scanned once when the histogram is frozen,
    * never per trigger; per-trigger work is O(bins). */
  def streamingQualityDrift(streamDocs: DataFrame, reference: DataFrame,
      binWidth: Double = DriftBinWidth, checkpoint: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val refHist = driftHistogram(reference, "n_ref", binWidth)
    val probeHist = TextStats.qualityFeatures(streamDocs)
      .select(floor(col("quality_score") / binWidth).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_probe"))
    val writer = probeHist.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(psiOfHistograms(refHist, batch), id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  def qQualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    qualityDrift(docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0))
      .orderBy(col("bin"))
  }

  // --- cross-source duplication matrix ---

  /** Which crawls duplicate which: verified near-dup pair counts by
    * unordered source pair — the readout that tells a corpus owner
    * whether dedup pressure is WITHIN a source (re-crawls) or ACROSS
    * sources (mirrors/aggregators), which changes where the dedup
    * budget goes. Pairs come from the banded [[TextDedup.minhashPairs]]
    * (never all-pairs); the matrix is two doc_id equi-joins and one
    * O(|sources|²)-row aggregate. */
  def crossSourceDups(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    TextDedup.minhashPairs(docs)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  def qCrossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    crossSourceDups(Tables.documents(spark, dir))
      .orderBy(col("source_a"), col("source_b"))
  }

  // --- the corpus datasheet ---

  /** One-row-per-source corpus DATASHEET (Gebru et al., "Datasheets
    * for Datasets") — the composition + hygiene card a corpus release
    * ships: volume (docs, tokens), integrity (null-text rows),
    * redundancy (exact-dup overhead), language make-up (distinct
    * count + majority language), stopword density, and benchmark
    * contamination exposure for the source's training half. The point
    * is the COMPOSITION: each column is a primitive this file (or
    * CorpusFilters) already proves out, assembled into the deliverable
    * a dataset card quotes.
    *
    * Every surface is integer-exact (counts, leaf-level integer sums)
    * with the two ratios as single terminal divisions of exact BIGINTs
    * — nothing order-dependent, so the whole card hash-matches the
    * oracle. Scale: three per-source aggregates (one corpus scan each
    * — profile/count pass, language-mode pass, contamination pass) and
    * two |sources|-row joins; the language mode uses a per-source
    * window over ≤|langs| rows, never a corpus partition. */
  def corpusCard(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"), col("lang"),
        TextStats.tokenProfile(col("text"), TextStats.stopwords("en")).as("_p"),
        col("text").isNull.as("_isnull"), md5(col("text")).as("_h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_isnull"), 1L).otherwise(0L)).as("n_null_text"),
        countDistinct(col("_h")).as("n_distinct_texts"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("_p.n_tokens").cast("long")).as("n_tokens"),
        sum(col("_p.hits").cast("long")).as("n_stop"))
    // the tie-break's null placement is EXPLICIT: Spark's plain asc is
    // NULLS FIRST while DuckDB's is NULLS LAST, so a modal-count tie
    // between a NULL lang and a named one would silently diverge from
    // the oracle under the defaults
    val topLang = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_rk", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("_n").desc, col("lang").asc_nulls_last)))
      .filter(col("_rk") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    val contam = CorpusFilters.contamination(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("contaminated"), 1L).otherwise(0L))
          .as("n_contaminated"))
    base.join(topLang, Seq("source"))
      .join(contam, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_null_text"),
        (col("n_docs") - col("n_distinct_texts")).as("dup_copies"),
        col("n_langs"), col("top_lang"), col("n_tokens"), col("n_stop"),
        when(col("n_tokens") === 0, 0.0)
          .otherwise(col("n_stop").cast("double") / col("n_tokens"))
          .as("stop_ratio"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(coalesce(col("n_train"), lit(0L)) === 0, 0.0)
          .otherwise(coalesce(col("n_contaminated"), lit(0L)).cast("double") /
            col("n_train"))
          .as("contamination_rate"))
  }

  def qCorpusCard(spark: SparkSession, dir: String): DataFrame =
    corpusCard(Tables.documents(spark, dir)).orderBy(col("source"))
}
