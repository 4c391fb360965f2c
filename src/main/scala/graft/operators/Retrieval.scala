package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Hybrid retrieval — reciprocal-rank fusion (RRF) of a lexical and a
  * semantic ranking, the standard first-stage recipe of a RAG /
  * training-data retrieval stack (Cormack et al., SIGIR'09: fuse by
  * `sum 1/(k + rank)` over the per-system rank lists; k=60 throughout
  * the literature).
  *
  * The two systems fused here are the engine's own oracle-verified
  * rankers:
  *  - '''lexical''': Jaccard similarity of hashed word-shingle sets
  *    against the query DOCUMENT's set (the [[TextDedup]] shingle
  *    machinery — `hashed_shingle_set` + the codegen'd
  *    `sorted_intersect_size`), top-[[ListK]] per query;
  *  - '''semantic''': embedding cosine against the query VECTOR
  *    ([[Similarity.topK]] — brute-force exact, the recall baseline the
  *    IVF/LSH variants are graded against), top-[[ListK]] per query.
  *
  * Query set = [[Similarity.isQueryId]] ids (deterministic, bounded at
  * [[Similarity.MaxQueries]]); `doc_id` and `vec_id` share one id
  * domain, so a query contributes its text to the lexical side and its
  * vector to the semantic side — a genuine two-modality query.
  *
  * Scale: both rankings are one corpus scan against a BROADCAST query
  * set (≤ [[Similarity.MaxQueries]] rows — never grows). The lexical
  * top-K runs TWO-PHASE to dodge the Q-partition skew a direct
  * `Window.partitionBy(query_id)` would have (Q ≤ 8 tasks each scanning
  * the corpus): a deterministic salt (`pmod(doc_id, TopKSalts)`) first
  * takes the per-(query, salt) top-K in TopKSalts·Q parallel groups,
  * then the global per-query top-K runs over ≤ TopKSalts·K survivors —
  * the second window is O(K) per query, not O(corpus). The salt is
  * id-derived (NOT `spark_partition_id()`), so the result is
  * byte-identical across partitionings and retries. Everything after
  * candidate selection touches ≤ 2·ListK rows per query.
  *
  * The RRF score is `1/(RrfK + rank)` summed over the lists that
  * contain the doc (absent list ⇒ no contribution — standard list-based
  * RRF). Ranks are integers, so both engines derive bit-identical
  * doubles from the same two correctly-rounded divisions, and ties
  * break on `doc_id`.
  */
object Retrieval {

  /** RRF smoothing constant (Cormack et al. use 60). */
  val RrfK = 60

  /** Per-system candidate-list depth fed into the fusion. */
  val ListK = 20

  /** Fused results returned per query. */
  val FuseK = 5

  /** Salt fan-out for the two-phase lexical top-K (see scaladoc). Pure
    * parallelism: any value ≥ 1 yields byte-identical results (the
    * global re-rank sees every per-salt survivor); 32 fits local[32], a
    * 1000-executor cluster would run 256-1024. */
  val TopKSalts = 32

  private def rrfTerm(rank: Column): Column =
    when(rank.isNotNull, lit(1.0) / (lit(RrfK).cast("double") + rank.cast("double")))
      .otherwise(lit(0.0))

  /** Lexical top-[[ListK]] per query by shingle-set Jaccard (two-phase
    * salted top-K — see object scaladoc). Output:
    * (query_id, doc_id, lex_rk). */
  def lexicalTopK(docs: DataFrame, k: Int = ListK): DataFrame = {
    val sets = docs
      .select(col("doc_id"),
        call_function("hashed_shingle_set", col("text"), lit(TextDedup.ShingleN))
          .as("hs"))
      .withColumn("sz", size(col("hs")).cast("long"))
      .where(col("sz") > 0L)
    val queries = sets.filter(Similarity.isQueryId(col("doc_id")))
      .select(col("doc_id").as("query_id"), col("hs").as("qh"),
        col("sz").as("qsz"))
    val scored = sets.crossJoin(broadcast(queries))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("inter",
        call_function("sorted_intersect_size", col("qh"), col("hs"))
          .cast("long"))
      .where(col("inter") > 0L)
      .withColumn("jaccard", col("inter").cast("double") /
        (col("qsz") + col("sz") - col("inter")).cast("double"))
      .select(col("query_id"), col("doc_id"), col("jaccard"))
    val salted = Window.partitionBy(col("query_id"), pmod(col("doc_id"), lit(TopKSalts.toLong)))
      .orderBy(col("jaccard").desc, col("doc_id"))
    val global = Window.partitionBy(col("query_id"))
      .orderBy(col("jaccard").desc, col("doc_id"))
    scored
      .withColumn("srk", row_number().over(salted))
      .where(col("srk") <= k)
      .withColumn("lex_rk", row_number().over(global).cast("long"))
      .where(col("lex_rk") <= k)
      .select(col("query_id"), col("doc_id"), col("lex_rk"))
  }

  /** The list-based RRF fusion shared by the exact and the indexed
    * hybrid: full-outer on (query, doc), absent list contributes 0,
    * top-[[FuseK]] per query by fused score (ties → doc_id). */
  private def fuse(lex: DataFrame, sem: DataFrame): DataFrame = {
    val fused = lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", rrfTerm(col("lex_rk")) + rrfTerm(col("sem_rk")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("frk", row_number().over(w))
      .where(col("frk") <= FuseK)
      .select(col("query_id"), col("doc_id"), col("lex_rk"), col("sem_rk"),
        col("rrf"))
  }

  /** RRF fusion of [[lexicalTopK]] and [[Similarity.topK]]. Output:
    * (query_id, doc_id, lex_rk, sem_rk, rrf) — ranks null when the doc
    * is absent from that system's list, top-[[FuseK]] per query by
    * fused score. */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame): DataFrame =
    fuse(lexicalTopK(docs),
      Similarity.topK(embeddings, Similarity.queryVectors(embeddings), ListK)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rk").as("sem_rk")))

  /** Probes per query on the indexed semantic side. */
  val IvfProbes = 2

  /** The SCALE-PATH hybrid: same fusion, but the semantic list comes
    * from the multi-probe IVF index ([[Similarity.ivfTopKProbed]] —
    * candidates are an equi-join on cell, one corpus partition per
    * query probe) instead of the exact corpus scan. At 100 TB the
    * exact [[hybridRrf]] is the recall baseline this variant is graded
    * against (RetrievalSpec pins the fused-list recall); both are
    * deterministic, so BOTH carry full hash oracles. The lexical side
    * is unchanged — shingle candidates were already index-shaped. */
  def hybridRrfIvf(docs: DataFrame, embeddings: DataFrame): DataFrame =
    fuse(lexicalTopK(docs),
      Similarity.ivfTopKProbed(embeddings, ListK, IvfProbes)
        .select(col("query_id"), col("vec_id").as("doc_id"),
          col("rk").as("sem_rk")))

  def qHybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrf(Tables.documents(spark, dir), Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))

  def qHybridIvf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfIvf(Tables.documents(spark, dir), Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))

  // --- context-window assembly (the RAG capstone) ---

  /** Token budget for [[contextAssembly]]'s harness entry — sized so
    * the fixture corpus genuinely CUTS (average docs run ~50 tokens;
    * five diversified picks would blow 96, so the boundary logic is
    * exercised at every scale factor). */
  val ContextBudget = 96L

  /** Context-window assembly under a token budget — the last step of a
    * RAG / retrieval-augmented training stack: take each query's
    * MMR-DIVERSIFIED pick list ([[Similarity.mmrRerank]] — redundancy
    * never spends the window twice), charge each pick its token count,
    * and admit picks in MMR order until the budget is spent, KEEPING
    * the boundary document ([[TrainPrep.tokenBudgetMix]]'s convention:
    * admit while the total BEFORE the doc is under budget — a budget
    * is a target, not a hard ceiling, and a partially-fitting doc
    * truncates downstream, not here).
    *
    * Scale shape: the pick list is bounded (≤ MaxQueries·outK rows),
    * so everything after the MMR stage is a broadcast-sized join
    * against the per-doc token counts (one projection of the corpus
    * scan) plus a window over ≤outK-row partitions.
    *
    * Output: `(query_id, mmr_rank, doc_id, n_tokens, cum_tokens)` —
    * the per-query reading list with its running total. */
  def contextAssembly(docs: DataFrame, embeddings: DataFrame,
                      budget: Long = ContextBudget): DataFrame = {
    val picks = Similarity.mmrRerank(embeddings,
      Similarity.queryVectors(embeddings))
    val toks = docs.select(col("doc_id").as("vec_id"),
      greatest(size(graft.functions.tokens(col("text"))), lit(0))
        .cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("mmr_rank"))
    picks.join(toks, Seq("vec_id"))
      .withColumn("cum_before", coalesce(
        sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col("query_id"), col("mmr_rank"),
        col("vec_id").as("doc_id"), col("n_tokens"),
        (col("cum_before") + col("n_tokens")).as("cum_tokens"))
  }

  def qContextAssembly(spark: SparkSession, dir: String): DataFrame =
    contextAssembly(Tables.documents(spark, dir),
        Tables.embeddings(spark, dir))
      .orderBy(col("query_id"), col("mmr_rank"))
}
