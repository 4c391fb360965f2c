package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.tables.Tables

/** Corpus-hygiene filters — the screening passes a large-scale
  * training-data pipeline runs between raw ingest and tokenization:
  *
  *  - '''PII redaction''' (emails / phones / IPv4) — count and strip
  *    via codegen'd regex expressions, no UDF. One narrow per-row pass.
  *  - '''Repetition stats''' (Gopher-style): top-token fraction and
  *    unique-bigram fraction per document; highly repetitive documents
  *    are flagged for the quality gate.
  *  - '''Benchmark decontamination''': n-gram overlap between the
  *    training corpus and a held-out benchmark set. The banned-shingle
  *    table is bounded by the benchmark (small by construction), so the
  *    overlap join broadcasts; the corpus side is one explode pass —
  *    never an all-pairs comparison.
  *  - '''Domain mixing''': deterministic hash-based downsampling to a
  *    balanced per-source mix — the "data recipe" step. Pure integer
  *    compare on a portable hash bucket: stable across runs, engines,
  *    and cluster sizes (never `rand()`).
  *
  * All regex patterns are restricted to constructs with identical
  * semantics in Java regex (Spark) and RE2 (DuckDB): explicit character
  * classes, bounded repetition, no lookaround, no backreferences.
  */
object CorpusFilters {

  // --- PII redaction ---

  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  /** US-shaped phone: 3-3-4 digit groups with `-`, `.` or space
    * separators and an optional parenthesized area code. */
  val PhonePattern = "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"
  val IpPattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Redaction ORDER is part of the contract: phones before IPs, because
    * a dotted phone ("555.123.4567") contains an IPv4-shaped substring —
    * the earlier pass must consume it. Both engines apply the same
    * sequence, so parity holds by construction. */
  def redactPii(text: Column): Column = {
    val e = regexp_replace(text, EmailPattern, "[EMAIL]")
    val p = regexp_replace(e, PhonePattern, "[PHONE]")
    regexp_replace(p, IpPattern, "[IP]")
  }

  def piiStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhonePattern), lit(0))).as("n_phones"),
      size(regexp_extract_all(col("text"), lit(IpPattern), lit(0))).as("n_ips"),
      length(redactPii(col("text"))).as("n_chars_redacted"))
      .withColumn("is_clean",
        col("n_emails") + col("n_phones") + col("n_ips") === 0)

  def qPiiRedact(spark: SparkSession, dir: String): DataFrame =
    piiStats(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // --- repetition stats (Gopher-style) ---

  /** Repetition-gate thresholds — named so the Spark side and BOTH
    * oracle spellings (q_repetition, the curate-v2 repkeep CTE)
    * interpolate the same literal; parity holds by construction. */
  val TopTokenFracMax = 0.2
  val UniqBigramFracMin = 0.3

  /** Per-document repetition readout:
    *  - `max_tf` / `top_token_frac`: count and corpus-fraction of the
    *    most frequent token (explode → two partial-agg shuffles — the
    *    distributed shape; a per-row array histogram would be an
    *    interpreted higher-order loop);
    *  - `uniq_bigram_frac`: distinct bigrams over total bigram slots,
    *    computed in one codegen'd pass via the native hashed shingle
    *    set (16-bit hash distinct — collisions understate distincts
    *    identically in both engines, so parity holds);
    *  - `keep_repetition`: the gate a curation pipeline consumes.
    */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val scalars = docs.select(col("doc_id"),
      size(tokens(col("text"))).as("n_tokens"),
      size(call_function("hashed_shingle_set", col("text"), lit(2)))
        .as("n_uniq_bigrams"))
    val maxTf = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id")).agg(max(col("tf")).as("max_tf"))
    val nTokD = col("n_tokens").cast("double")
    val topFrac = when(col("n_tokens") === 0, 0.0)
      .otherwise(col("max_tf").cast("double") / nTokD)
    val uniqFrac = when(col("n_tokens") <= 1, 1.0)
      .otherwise(col("n_uniq_bigrams").cast("double") /
        (nTokD - 1.0))
    scalars.join(maxTf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("max_tf"), lit(0L)).as("max_tf"),
        topFrac.as("top_token_frac"),
        uniqFrac.as("uniq_bigram_frac"))
      .withColumn("keep_repetition",
        col("top_token_frac") <= TopTokenFracMax &&
          col("uniq_bigram_frac") >= UniqBigramFracMin)
  }

  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // --- benchmark decontamination ---

  val ContamShingleN = 5
  /** Deterministic benchmark membership: doc_id ≡ 0 (mod 29) plays the
    * held-out eval set (a real pipeline joins an external benchmark
    * table here — the dataflow is identical). */
  val EvalMod = 29

  /** For every training document, the number of its distinct
    * `ContamShingleN`-gram shingles that also occur in the benchmark
    * set, plus the contamination flag.
    *
    * 100-TB shape: the banned-shingle table is bounded by the benchmark
    * corpus (millions of shingles, not the training corpus's billions),
    * so AQE broadcasts the inner join; the training side is one explode
    * of the already-distinct per-doc shingle sets. The final left join
    * keeps zero-overlap documents with an explicit 0.
    */
  def contamination(docs: DataFrame): DataFrame = {
    val sh = TextDedup.hashedShingles(docs, ContamShingleN)
    val banned = sh.filter(col("doc_id") % EvalMod === 0)
      .select(explode(col("hs")).as("h")).distinct()
    val train = sh.filter(col("doc_id") % EvalMod =!= 0)
    val hits = train.select(col("doc_id"), explode(col("hs")).as("h"))
      .join(banned, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  def qContamination(spark: SparkSession, dir: String): DataFrame =
    contamination(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Frozen banned-shingle set of a benchmark corpus — the table a
    * live decontamination gate broadcasts (bounded by the benchmark,
    * not the stream). */
  def bannedShingles(evalDocs: DataFrame): DataFrame =
    TextDedup.hashedShingles(evalDocs, ContamShingleN)
      .select(explode(col("hs")).as("h")).distinct()

  /** Admission-gate twin of [[contamination]]: score arriving documents
    * against a FROZEN banned set. Stream-static legal by the DSIR-gate
    * construction — one `explode_outer` (shingle-less docs survive with
    * a null key), one broadcast left join against the banned markers,
    * ONE aggregation — so the IDENTICAL code runs as a Structured
    * Streaming complete-mode query (StreamingSpec pins stream ≡ batch,
    * and batch-equality with [[contamination]]'s train half when
    * `banned` = [[bannedShingles]] of the same eval subset). */
  def contaminationAgainst(probe: DataFrame, banned: DataFrame): DataFrame =
    TextDedup.hashedShingles(probe, ContamShingleN)
      .select(col("doc_id"), explode_outer(col("hs")).as("h"))
      .join(broadcast(banned.withColumn("hit", lit(1L))), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)

  /** The ATTRIBUTION companion to [[contamination]]: which benchmark
    * document leaked into which training document, with the shared
    * distinct-shingle count — the evidence trail a decontamination
    * audit publishes next to the boolean gate (the gate says "drop
    * this doc", the report says WHY and lets an eval owner confirm the
    * leak). One row per (eval, train) pair that shares ≥ 1 shingle.
    *
    * 100-TB shape: same as the gate — the eval side is bounded by the
    * benchmark corpus, so its exploded shingles broadcast; the pair
    * aggregate's row count tracks TRUE leak volume (a clean corpus
    * emits almost nothing), never |eval|×|train|. Distinct-set
    * shingles on both sides make `count(*)` the distinct-overlap
    * count, no second dedup pass.
    *
    * Contract with the gate (spec-pinned): the distinct `train_id` set
    * here IS the gate's `contaminated` set — a shingle is banned iff
    * some eval doc contains it. */
  def contaminationReport(docs: DataFrame): DataFrame = {
    val sh = TextDedup.hashedShingles(docs, ContamShingleN)
    val eval = sh.filter(col("doc_id") % EvalMod === 0)
      .select(col("doc_id").as("eval_id"), explode(col("hs")).as("h"))
    val train = sh.filter(col("doc_id") % EvalMod =!= 0)
      .select(col("doc_id").as("train_id"), explode(col("hs")).as("h"))
    train.join(broadcast(eval), Seq("h"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  def qContaminationReport(spark: SparkSession, dir: String): DataFrame = {
    contaminationReport(Tables.documents(spark, dir))
      .orderBy(col("eval_id"), col("train_id"))
  }

  // --- domain mixing ---

  /** Balanced per-source mix: every source is downsampled to the size of
    * the smallest source. A document is kept iff its portable hash
    * bucket clears the source's rate — the comparison
    * `bucket · n_source < n_min · 10000` is pure integer arithmetic, so
    * both engines make bit-identical keep decisions and the sample is
    * stable under reshuffles and reruns. The "mix:" salt decouples the
    * bucket from the split/other id-derived hashes. */
  def domainMix(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
    val minCnt = counts.agg(min(col("n_total")).as("n_min"))
    // 60-bit hash, NOT md5Bits16 — same uniformity rationale as
    // TrainPrep.domainUpsample (see functions.md5Bits60)
    val bucket =
      md5Bits60(concat(lit("mix:"), col("doc_id").cast("string"))) % 10000L
    val kept = docs.select(col("doc_id"), col("source"))
      .join(counts, Seq("source"))
      .crossJoin(broadcast(minCnt))
      .filter(bucket * col("n_total") < col("n_min") * 10000L)
    counts.join(
        kept.groupBy(col("source")).agg(count(lit(1)).as("n_kept")),
        Seq("source"), "left")
      .select(col("source"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_kept"), lit(0L)).cast("double") /
          col("n_total").cast("double")).as("kept_frac"))
  }

  def qDomainMix(spark: SparkSession, dir: String): DataFrame =
    domainMix(Tables.documents(spark, dir)).orderBy(col("source"))

  // --- distilled quality-classifier gate ---

  /** Static (token → integer weight) table of the distilled linear
    * quality classifier. The REALISTIC deployment shape for
    * model-based curation at 100 TB: the classifier is trained
    * offline on a small labeled sample (fasttext-style), distilled to
    * a published weight table, and the CORPUS-SCALE work is pure
    * APPLICATION of that table — which is what this operator
    * implements. Integer weights by design: the gate decision becomes
    * exact integer arithmetic, bit-identical across engines and
    * replayable years later (a float score would hash-drift).
    * Positive = query/structure content signals; negative =
    * degenerate/filler markers. */
  val ClassifierWeights: Seq[(String, Int)] = Seq(
    "query" -> 2, "window" -> 2, "vector" -> 2, "merge" -> 1,
    "group" -> 1, "column" -> 1, "table" -> 1, "stream" -> 1,
    "dup" -> -3, "slow" -> -2, "a" -> -1, "the" -> -1)

  /** Keep ⟺ clf_raw · 20 ≥ n_tokens (mean token weight ≥ 0.05). */
  val ClassifierDen = 20

  /** Per-document classifier application: raw score = Σ weight(token)
    * over the token stream (unmatched tokens weigh 0), plus the keep
    * verdict.
    *
    * Plan: entirely MAP-SIDE — the weight table rides along as a map
    * literal and the score is one `aggregate` fold over the token
    * array, so scoring a 100 TB corpus is a single scan with no
    * shuffle, no join, no broadcast (the table is part of the plan,
    * the degenerate-but-correct limit of a broadcast join for a
    * fixed published table; a REtrained table would come as a
    * broadcast frame instead). Empty docs score 0 and pass — the
    * length gates own that decision ([[repetitionStats]]). */
  def classifierScore(docs: DataFrame): DataFrame = {
    val wmap = map(ClassifierWeights.flatMap { case (t, w) =>
      Seq(lit(t), lit(w)) }: _*)
    val ts = tokens(col("text"))
    docs.select(col("doc_id"),
        size(ts).cast("long").as("n_tokens"),
        aggregate(ts, lit(0L), (acc, t) =>
          acc + coalesce(element_at(wmap, t).cast("long"), lit(0L)))
          .as("clf_raw"))
      .withColumn("keep_clf",
        col("clf_raw") * ClassifierDen >= col("n_tokens"))
  }

  def qClassifierScore(spark: SparkSession, dir: String): DataFrame =
    classifierScore(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** [[classifierScore]] with the weight table as a DATA FRAME — the
    * retrain path: a freshly distilled table lands as a small parquet
    * and broadcasts, no code change or redeploy. Explode → broadcast
    * equi-join → per-doc sum; unmatched tokens contribute nothing
    * (inner join), docs with no matched token re-enter with raw 0
    * through the left join against the map-side (doc_id, n_tokens)
    * base, so the two paths agree row-for-row (spec-pinned). The
    * token stream shuffles once on doc_id for the sum — the price of
    * a dynamic table; the literal-map path stays the zero-shuffle
    * fast lane for a PUBLISHED table. */
  def classifierScoreFrame(docs: DataFrame, weights: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val raw = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("token"))
      .join(broadcast(weights), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sum(col("weight").cast("long")).as("raw"))
    base.join(raw, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        // null text stays null end-to-end, as the literal-map fold has it
        when(col("n_tokens").isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("raw"), lit(0L))).as("clf_raw"))
      .withColumn("keep_clf",
        col("clf_raw") * ClassifierDen >= col("n_tokens"))
  }

  // --- Trained Naive-Bayes document classifier ---

  /** The label the shipped NB queries train on. `lang` has a gold
    * column in the corpus, so the classifier's test-split predictions
    * are directly gradable (the confusion query) — the evaluation a
    * real pipeline runs before trusting a model-based filter. */
  val NbLabelCol = "lang"

  /** Distributed add-one (Laplace) multinomial Naive-Bayes: score
    * PROBE documents against per-class token models trained from the
    * MODEL corpus's label column, and take the arg-max class. This is
    * the TRAINING half that [[classifierScore]] deliberately leaves
    * offline — here the "training" is pure counting, which is exactly
    * the part a cluster does well, so the whole fastText-style
    * train-on-seed / apply-to-corpus loop runs in one engine.
    *
    * Scoring discipline (the [[graft.functions.qlnMicro]] contract —
    * same as `dsirWeights` / `lmPerplexity`): every log is quantized
    * to integer micro-nats AT THE LEAF, so a document's class score
    *
    *   score(d, c) = ln P(c) + Σ_w k_w · ln((n_{c,w}+1) / (N_c+V))
    *
    * becomes exact integer arithmetic — summation order, engine, and
    * partitioning cannot move it. The per-class denominator is folded
    * closed-form: each of the doc's n_tokens occurrences pays
    * −qln(N_c+V) whether or not the token was seen in class c, and
    * the numerator contributes only for seen (class, token) pairs
    * (ln 1 = 0 otherwise) — so the token join can stay INNER and
    * unseen-token handling costs nothing.
    *
    * Plan shape, sized for a 100-TB probe corpus: probe tokens
    * pre-aggregate to (doc, w, k) BEFORE touching the model (the
    * Heaps-law shrink), join the (w, class) count table on the token
    * key, partial-sum to (doc, class), and re-enter through a
    * broadcast class-constant frame crossed with the probe base —
    * |classes| rows per doc, never |classes| rows per occurrence.
    * The arg-max is a per-doc window over ≤ |classes| rows with a
    * deterministic tie-break (score desc, class asc), engine-exact.
    *
    * Output: (doc_id, <labelCol> true label, n_tokens, pred,
    * score_micro, margin_micro) — margin is best minus runner-up
    * (0 when there is no runner-up), the abstention signal a
    * confidence-gated deployment thresholds on. */
  def nbClassifyAgainst(probe: DataFrame, model: DataFrame,
                        labelCol: String = NbLabelCol): DataFrame = {
    val (counts, classConst) = nbTrain(model, labelCol)
    nbScoreAgainst(probe, counts, classConst, labelCol)
  }

  /** The TRAINING half alone: the standing model frames —
    * `(counts(pred, w, n_cw), classConst(pred, prior_micro,
    * den_micro))` — everything [[nbScoreAgainst]] needs to score ANY
    * probe frame. The seam a caller that scores many probe batches
    * against ONE frozen model needs (the [[streamingNbAdmission]]
    * twin): without it every admission call re-runs the full model
    * tokenize/count/prior aggregation — K micro-batches cost K
    * training passes over the frozen corpus, the same per-batch
    * standing-rebuild hazard `streamingSemanticAdmission` fixed with
    * [[Similarity.semanticStandingParts]]. */
  def nbTrain(model: DataFrame, labelCol: String = NbLabelCol):
      (DataFrame, DataFrame) = {
    val modelTok = model
      .select(col(labelCol).as("pred"), explode(tokens(col("text"))).as("w"))
    val counts = modelTok.groupBy(col("pred"), col("w"))
      .agg(count(lit(1)).as("n_cw"))
    // V (train vocab) in one 1-row frame; per-class totals + doc priors
    val vocab = counts.agg(countDistinct(col("w")).as("v"))
    val classTotals = counts.groupBy(col("pred"))
      .agg(sum(col("n_cw")).as("nn_c"))
    val priors = model.groupBy(col(labelCol).as("pred"))
      .agg(count(lit(1)).as("n_docs"))
    val totalDocs = model.agg(count(lit(1)).as("n_total"))
    // O(|classes|) broadcast frame: prior and denominator in micro-nats
    val classConst = classTotals
      .join(priors, Seq("pred"))
      .crossJoin(vocab.select(col("v")))
      .crossJoin(totalDocs)
      .select(col("pred"),
        (qlnMicro(col("n_docs")) - qlnMicro(col("n_total"))).as("prior_micro"),
        qlnMicro(col("nn_c") + col("v")).as("den_micro"))
    (counts, classConst)
  }

  /** The SCORING half: classify a probe frame against [[nbTrain]]'s
    * standing frames. */
  def nbScoreAgainst(probe: DataFrame, counts: DataFrame,
                     classConst: DataFrame,
                     labelCol: String = NbLabelCol): DataFrame = {
    val probeTok = probe
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("k"))
    val matched = probeTok
      .join(counts, Seq("w"))
      .groupBy(col("doc_id"), col("pred"))
      .agg(sum(col("k") * qlnMicro(col("n_cw") + 1)).as("num_micro"))
    val base = probe
      .select(col("doc_id"), col(labelCol),
        coalesce(size(tokens(col("text"))).cast("long"), lit(0L))
          .as("n_tokens"))
      .crossJoin(broadcast(classConst))
    val scored = base
      .join(matched, Seq("doc_id", "pred"), "left")
      .select(col("doc_id"), col(labelCol), col("n_tokens"), col("pred"),
        (coalesce(col("num_micro"), lit(0L)) + col("prior_micro")
          - col("n_tokens") * col("den_micro")).as("score_micro"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micro").desc, col("pred").asc)
    scored
      .withColumn("rk", row_number().over(w))
      .withColumn("margin_micro",
        col("score_micro") - coalesce(
          lead(col("score_micro"), 1).over(w), col("score_micro")))
      .filter(col("rk") === 1)
      .drop("rk")
  }

  /** Self-contained train/evaluate split of [[nbClassifyAgainst]]:
    * train on the md5-bucket train split, classify the held-out test
    * split — the same split rule as `TextStats.qHashSplit`, so the
    * model never sees its evaluation docs (and the split is stable
    * under any reshuffle or engine). */
  def nbClassify(docs: DataFrame, labelCol: String = NbLabelCol): DataFrame = {
    val bucket = TextStats.splitBucket(col("doc_id"))
    nbClassifyAgainst(docs.filter(bucket >= 90),
      docs.filter(bucket < 80), labelCol)
  }

  def qNbClassify(spark: SparkSession, dir: String): DataFrame =
    nbClassify(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Test-split confusion matrix of the trained classifier — the
    * model-card number (per-class hit/miss counts) a pipeline reviews
    * before wiring the classifier into an admission gate. */
  def qNbConfusion(spark: SparkSession, dir: String): DataFrame =
    nbClassify(Tables.documents(spark, dir))
      .groupBy(col(NbLabelCol), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col(NbLabelCol), col("pred"))

  /** Live NB classification of an arriving document stream against a
    * FROZEN model corpus — the model-based admission gate's streaming
    * twin. The trained frames build ONCE, before the query starts, and
    * persist (MEMORY_AND_DISK — `counts` is vocab × classes, the only
    * corpus-derived one); each micro-batch then pays only ITS OWN
    * tokenize/score against the standing frames — same reasoning as
    * `streamingSemanticAdmission`'s standing-parts split (the previous
    * spelling handed the raw model to [[nbClassifyAgainst]] per batch:
    * K micro-batches cost K full training passes). Classification of a
    * doc depends only on the frozen model, so stateless `foreachBatch`
    * stays exactly right; StreamingSpec pins streamed predictions ≡
    * batch predictions under any batch slicing. */
  def streamingNbAdmission(streamDocs: DataFrame, model: DataFrame,
                           labelCol: String = NbLabelCol,
                           checkpoint: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val (counts0, classConst0) = nbTrain(model, labelCol)
    val counts = counts0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val classConst = classConst0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val writer = streamDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(nbScoreAgainst(batch, counts, classConst, labelCol), id)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val query =
      checkpoint.fold(writer)(c => writer.option("checkpointLocation", c)).start()
    // release the trained frames when the query terminates — the
    // shared-JVM stranded-cache hazard, streaming edition
    Similarity.releaseOnTermination(model.sparkSession, query,
      Seq(counts, classConst))
    query
  }
}
