package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{LessThan, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.SparkPlan

/** Plan-shape guards for the scale properties the engine claims:
  * pushdown reaches the scan, no forced broadcasts of
  * scale-proportional tables, top-k compiles to bounded operators.
  * These are the regressions a refactor would silently reintroduce. */
class PlanSpec extends SparkSpec with org.scalatest.BeforeAndAfterEach {

  /** Plan-SHAPE assertions must see plans built against an empty
    * CacheManager: operators that persist() at construction time
    * (Similarity's Lloyd/trade-table intermediates) register cache
    * entries in the shared test session, and Spark then silently
    * rewrites any LATER plan whose subtree matches — turning scans
    * into InMemoryTableScan and breaking structural counts for
    * queries that persist nothing themselves. Clearing before each
    * test makes every assertion see the cold-plan shape Bench/Verify
    * see (both clearCache() per query). */
  override protected def beforeEach(): Unit = {
    spark.catalog.clearCache()
    super.beforeEach()
  }

  private def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  private def planString(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.queryExecution.executedPlan.toString()
  }
  /** Formatted explain — scan metadata (PushedFilters list) is NOT
    * 100-char-truncated there, unlike executedPlan.toString. */
  private def formattedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q1: ship-date filter and column pruning reach the parquet scan") {
    val s = planString("q1_pricing_summary")
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    // pruned scan: the 16-column lineitem schema shrinks to the 7 used
    assert(s.contains("FileScan parquet [l_quantity#"))
    assert(!s.contains("l_orderkey"), "scan reads columns the query never uses")
  }

  test("q3/q5/q7/q18: no forced broadcast hints on scale-proportional tables") {
    Seq("q3_shipping_priority", "q5_region_volume", "q7_volume_shipping",
      "q18_large_orders").foreach { q =>
      val analyzed = SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.analyzed
      val hinted = analyzed.collect {
        case h: ResolvedHint => h.child.toString()
      }
      // only the bounded nation-region dimension may carry a hint
      hinted.foreach { h =>
        assert(!h.contains("customer.parquet") && !h.contains("supplier.parquet")
          && !h.contains("orders.parquet") && !h.contains("lineitem.parquet"),
          s"$q forces a broadcast of a scale-proportional table:\n$h")
      }
    }
  }

  test("q3: sort+limit compiles to TakeOrderedAndProject, not a global sort") {
    assert(planString("q3_shipping_priority").contains("TakeOrderedAndProject"))
  }

  test("ranked top-k queries use WindowGroupLimit (rank pushdown)") {
    Seq("q_top_orders_per_cust", "q_similar_topk").foreach { q =>
      assert(planString(q).contains("WindowGroupLimit"), s"$q lost rank pushdown")
    }
  }

  test("bill search stays narrow: no exchange before the final sort") {
    val s = planString("q_bill_search")
    val exchanges = "Exchange".r.findAllIn(s).length
    // exactly the one range-partitioning exchange for the deterministic sort
    assert(exchanges <= 2, s"unexpected shuffles in a scan->filter->project chain:\n$s")
  }

  test("as-of join plans as one shuffle, never a nested-loop range join") {
    import spark.implicits._
    val l = Seq((1L, 10L, "x")).toDF("k", "t", "tag")
    val r = Seq((1L, 5L, 1.0)).toDF("k", "t", "v")
    val s = graft.operators.AsofJoin.asofJoin(l, r, "k", "t", Seq("v"))
      .queryExecution.executedPlan.toString()
    val hashEx = "Exchange hashpartitioning".r.findAllIn(s).length
    assert(hashEx === 1, s"expected exactly the one window shuffle on k:\n$s")
    assert(!s.contains("NestedLoop") && !s.contains("CartesianProduct"),
      s"as-of join must not plan as a join at all:\n$s")
  }

  test("range join plans as an equi-join on (key, bucket), not a nested loop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.timestamp_micros
    val l = Seq((1L, 1000L)).toDF("k", "t_us")
      .withColumn("ts", timestamp_micros($"t_us")).drop("t_us")
    val r = Seq((1L, 950L, "c")).toDF("k", "t_us", "v")
      .withColumn("ts", timestamp_micros($"t_us")).drop("t_us")
    val s = graft.operators.AsofJoin.rangeJoin(l, r, "k", "ts", 100L, Seq("v"))
      .queryExecution.executedPlan.toString()
    assert(!s.contains("NestedLoop") && !s.contains("CartesianProduct"),
      s"range join degenerated to a non-equi join:\n$s")
  }

  test("q6: the RANGE predicates push to the parquet scan") {
    // IsNotNull alone is always pushed for a filtered column, so the
    // asserts demand the comparison filters themselves
    val s = formattedPlan("q6_forecast_revenue")
    assert(s.contains("GreaterThanOrEqual(l_shipdate"), s"shipdate lower bound not pushed:\n$s")
    assert(s.contains("LessThan(l_shipdate"), s"shipdate upper bound not pushed:\n$s")
    assert(s.contains("GreaterThanOrEqual(l_discount"), s"discount lower bound not pushed:\n$s")
    assert(s.contains("LessThanOrEqual(l_discount"), s"discount upper bound not pushed:\n$s")
    assert(s.contains("LessThan(l_quantity"), s"quantity bound not pushed:\n$s")
  }

  test("q10: top-20 compiles to TakeOrderedAndProject") {
    assert(planString("q10_returned_items").contains("TakeOrderedAndProject"))
  }

  test("q13: the priority exclusion keeps the join outer") {
    // a post-join WHERE would let Catalyst rewrite LEFT as INNER and
    // silently drop order-less customers
    val s = SparkEntry.queries("q13_order_distribution")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString()
    assert(s.contains("LeftOuter"), s"outer join lost:\n$s")
  }

  test("token-bpe evaluates the BPE regex once per row, not per consumer") {
    // the two counts derive from one projected array; CollapseProject
    // must NOT inline the extraction into both references
    val s = planString("q_token_bpe")
    val n = "regexp_extract_all".r.findAllIn(s).length
    assert(n === 1, s"BPE extraction duplicated $n times in the plan:\n$s")
  }

  test("lm perplexity: two corpus scans, all corpus tables read the caches") {
    // the bigram pass and the unigram pass each collapse to a persisted
    // count table; a regression that re-derives any corpus aggregate
    // from the raw table shows up as a third RUNTIME parquet scan —
    // counted structurally (direct scans + scans inside each DISTINCT
    // cache build), because formatted explain re-prints a cached child
    // plan under every InMemoryTableScan that reads it
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val plan = SparkEntry.queries("q_lm_perplexity")(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val direct = plan.collect { case f: FileSourceScanExec => f }.size
    val cacheScans = plan
      .collect { case i: InMemoryTableScanExec => i.relation }
      .groupBy(r => System.identityHashCode(r.cacheBuilder)).values
      .map(_.head.cachedPlan.collect { case f: FileSourceScanExec => f }.size)
      .sum
    assert(direct + cacheScans <= 2,
      s"lm perplexity grew to ${direct + cacheScans} corpus scans " +
        s"($direct direct, $cacheScans in caches):\n$plan")
    assert(!plan.toString.contains("CartesianProduct"),
      "the 1-row grand total must join as a broadcast, not a cartesian")
  }

  test("dsir: one corpus scan behind the cache, no cartesian products") {
    // both LMs and the totals re-aggregate the persisted (doc, token)
    // table; a regression that re-derives any of them from the raw
    // table shows up as a second runtime scan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val plan = SparkEntry.queries("q_dsir_weights")(spark, sf("sf0.001"))
      .queryExecution.executedPlan
    val direct = plan.collect { case f: FileSourceScanExec => f }.size
    val cacheScans = plan
      .collect { case i: InMemoryTableScanExec => i.relation }
      .groupBy(r => System.identityHashCode(r.cacheBuilder)).values
      .map(_.head.cachedPlan.collect { case f: FileSourceScanExec => f }.size)
      .sum
    assert(direct + cacheScans <= 1,
      s"dsirWeights grew to ${direct + cacheScans} corpus scans:\n$plan")
    Seq("q_dsir_weights", "q_dsir_admission", "q_curate_v7").foreach { q =>
      val s = SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.executedPlan.toString
      assert(!s.contains("CartesianProduct"),
        s"$q: the 1-row totals must join as a broadcast, not a cartesian")
    }
  }

  test("banded-LSH similarity: candidates come from equi-joins, never a nested loop") {
    // the blocking step must stay a (band, sig) key join — a regression
    // to all-pairs would surface as a cartesian/nested-loop operator
    Seq("q_similar_ann", "q_similar_ann2", "q_embed_neardup", "q_simhash_pairs",
      "q_dedup_persisted", "q_embed_neardup_persisted")
      .foreach { q =>
        val s = planString(q)
        assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
          s"$q candidate generation degenerated to all-pairs:\n$s")
      }
  }

  test("similarity broadcasts only workload-bounded sets") {
    // every ResolvedHint (explicit broadcast) must wrap a frame filtered
    // by the O(K) query/centroid predicate — broadcasting anything
    // corpus-proportional dies at 100× scale
    Seq("q_similar_topk", "q_similar_ann", "q_similar_ann2", "q_similar_ivf",
      "q_similar_ivf2").foreach { q =>
        val analyzed = SparkEntry.queries(q)(spark, sf("sf0.001"))
          .queryExecution.analyzed
        val hinted = analyzed.collect { case h: ResolvedHint => h.child }
        assert(hinted.nonEmpty, s"$q lost its bounded-side broadcast hints")
        val qCap = Similarity.QueryStride.toLong * Similarity.MaxQueries
        val cCap = Similarity.IvfCentroidEvery.toLong * Similarity.MaxCentroids
        hinted.foreach { child =>
          // structural, not string-match: walk the Filter conditions under
          // the hint and pull the literal right-hand sides of `id < cap`
          val caps = child.collect {
            case f: Filter => f.condition.collect {
              case LessThan(_, Literal(v: Long, _)) => v
              case LessThan(_, Literal(v: Int, _)) => v.toLong
            }
          }.flatten
          assert(caps.contains(qCap) || caps.contains(cCap),
            s"$q broadcasts a side without the O(K) id cap " +
              s"(want LessThan literal $qCap or $cCap, saw $caps):\n$child")
        }
      }
  }

  test("token chunks generate without any shuffle before the final sort") {
    // sequence -> explode -> slice is per-row work; the only exchange
    // allowed is the output orderBy's range partitioning
    val s = planString("q_token_chunks")
    val exchanges = "Exchange".r.findAllIn(s).length
    assert(exchanges <= 2, // rangepartitioning (+ AQE read) only
      s"chunking should be narrow until the sort, saw $exchanges exchanges:\n$s")
    assert(!s.contains("hashpartitioning"),
      s"chunk generation must not hash-shuffle:\n$s")
  }

  test("tokenize-ids maps tokens through a broadcast vocab join") {
    val df = SparkEntry.queries("q_tokenize_ids")(spark, sf("sf0.001"))
    df.collect() // let AQE finalize
    val s = df.queryExecution.executedPlan.toString()
    assert(s.contains("BroadcastHashJoin"),
      s"the O(K) vocabulary should broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"a sort-merge join means the vocab shuffled the corpus:\n$s")
  }

  test("repeated spans: salted map-side count, no whole-partition sh-window") {
    // the skew guards: (1) the occurrence count partial-aggregates on
    // (sh, _salt) BEFORE any exchange — a regression to the old
    // whole-partition window shows up as a Window keyed by sh, which
    // serializes a hot shingle's entire occurrence list into one
    // task; (2) the hash pass runs exactly twice (count + probe, the
    // documented trade) — more means an accidental extra subtree
    val df = SparkEntry.queries("q_repeated_spans")(spark, sf("sf0.001"))
    df.collect() // let AQE finalize
    // physical(): the finalized plan only — AdaptiveSparkPlanExec's
    // toString renders Final AND Initial sections, double-counting
    val s = physical(df).toString()
    val n = "shingle_pos_hashes".r.findAllIn(s).length
    assert(n === 2, s"shingle hash evaluated $n times, expected 2 (count+probe):\n$s")
    // the inline pmod alias prints as _groupingexpression in the
    // physical aggregate keys
    assert(("HashAggregate\\(keys=\\[sh#\\d+L, " +
      "(_salt|_groupingexpression)#\\d+L?\\], functions=\\[partial_count")
      .r.findFirstIn(s).isDefined,
      s"occurrence count no longer partial-aggregates on (sh, salt):\n$s")
    assert("windowspecdefinition\\(sh#".r.findFirstIn(s).isEmpty,
      s"occurrence count regressed to a whole-partition window over sh:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"span detection degenerated to all-pairs:\n$s")
  }

  test("contamination: banned-shingle join broadcasts, never a nested loop") {
    val df = SparkEntry.queries("q_contamination")(spark, sf("sf0.001"))
    df.collect() // let AQE finalize with runtime sizes
    val s = df.queryExecution.executedPlan.toString()
    assert(!s.contains("CartesianProduct"),
      s"contamination degenerated to an all-pairs product:\n$s")
    assert(s.contains("BroadcastHashJoin"),
      s"the benchmark-bounded banned set should broadcast at runtime:\n$s")
  }

  test("pii scan prunes to the two used columns") {
    val s = planString("q_pii_redact")
    assert(s.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"pii pass should read only doc_id+text:\n$s")
  }

  test("analytics scans prune to their used columns") {
    // each new analytics family reads exactly what it computes on —
    // a 100 TB scan that drags unused columns is the regression here
    Seq(
      "q_label_centroids" -> "ReadSchema: struct<embedding:array<float>,label:int>",
      "q_split_manifest" -> "ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>",
      "q_bigram_next" -> "ReadSchema: struct<doc_id:bigint,text:string>",
      // event_type rides along since the family-wide null-identity
      // guard: its null-check must read it. Still pruned to exactly
      // the identity trio — the regression this test exists for is
      // dragging UNUSED columns (value, event_id) into a 100 TB scan.
      "q_retention_cohorts" -> "ReadSchema: struct<ts:timestamp_ntz,user_id:bigint,event_type:string>"
    ).foreach { case (q, schema) =>
      val s = formattedPlan(q)
      assert(s.contains(schema), s"$q scan not pruned:\n$s")
    }
  }

  test("q2/q17/q20: key-granular filters stay semi-joined below the supply aggregate") {
    // the hand-pushdown RelationalX documents: Catalyst won't move a
    // join through an aggregate, so a refactor that lifts the semi-join
    // back above the groupBy silently re-inflates the shuffle ~50×
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    Seq("q2_min_cost_supplier", "q17_small_qty_revenue",
      "q20_top_share_suppliers").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf("sf0.001"))
        .queryExecution.optimizedPlan
      val fed = plan.collect {
        case a: Aggregate if a.find {
          case j: Join => j.joinType == LeftSemi
          case _ => false
        }.isDefined => a
      }
      assert(fed.nonEmpty, s"$q: no aggregate consumes a semi-joined slice")
    }
  }

  test("minhash verify joins reuse the hashed-shingle exchange at runtime") {
    val df = SparkEntry.queries("q_dedup_minhash")(spark, sf("sf0.001"))
    df.collect() // materialize THIS queryExecution so AQE finalizes it
    val s = df.queryExecution.executedPlan.toString()
    assert(s.contains("ReusedExchange"),
      s"expected the collapse/band exchange to be reused across consumers:\n$s")
  }

  test("hot-bucket-guarded pair plans scan the corpus exactly once") {
    // the round-14 pushdown regression this pins: a prune filter on a
    // grouping-key-derived score pushed through the collapse aggregate
    // re-runs the interpreted shingle tree in a SECOND corpus scan
    // (and breaks every exchange reuse below it). One FileScan per
    // plan = the collapse subtree is shared by the cross, intra and
    // verify branches.
    Seq("q_dedup_minhash", "q_containment_pairs", "q_minhash_est",
      "q_simhash_pairs", "q_simhash_pairs16").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      df.collect() // finalize AQE
      // count in the FINAL plan only — toString appends the pre-AQE
      // initial plan, which legitimately repeats the scan per branch
      val s = df.queryExecution.executedPlan.toString()
        .split("== Initial Plan ==").head
      val scans = "FileScan parquet".r.findAllIn(s).length
      assert(scans === 1,
        s"$q: expected ONE documents scan, found $scans — a branch is " +
          s"re-deriving the collapse instead of sharing it:\n$s")
    }
  }

  test("curate v4 reuses the span-detection exchanges between gate and strip") {
    val df = SparkEntry.queries("q_curate_v4")(spark, sf("sf0.001"))
    df.collect() // finalize AQE
    val s = df.queryExecution.executedPlan.toString()
    assert(s.contains("ReusedExchange"),
      s"gate and strip re-shuffled the same detection subtree:\n$s")
  }

  test("bm25: df/stats join back as broadcasts, top-k is TakeOrdered") {
    val df = SparkEntry.queries("q_bm25_search")(spark, sf("sf0.001"))
    df.collect()
    val s = physical(df).toString()
    // the bounded df and 1-row stats frames must never reshuffle the
    // corpus-side tf frame
    val bhj = "BroadcastHashJoin".r.findAllIn(s).length
    assert(bhj >= 1, s"df join fell out of broadcast:\n$s")
    // the 1-row stats crossJoin legitimately plans a broadcast
    // nested-loop (bounded side); a CartesianProduct would not be
    assert(!s.contains("CartesianProduct"), s"cartesian in bm25 plan:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"top-k did not compile to TakeOrderedAndProject:\n$s")
  }

  test("persisted ANN probes read the standing index, never rebuild it") {
    // the build-once/probe-many contract: after writeIvfIndex /
    // writeBandIndex land, the PROBE plan may touch the corpus table
    // only for the query/increment rows — cells, centroids, and band
    // sigs must come from the index parquet. A regression that
    // re-derives them in the probe shows up as extra corpus scans.
    // AQE off for the walk: nested AdaptiveSparkPlan broadcast stages
    // would otherwise hide/duplicate scan nodes (SnapshotSpec precedent).
    // The walk includes subqueries: when the probed cells prune the
    // cell partitions (DPP), the query-side broadcast lives in the
    // pruning subquery and the join reads it as a ReusedExchange.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      def scanPaths(q: String): Seq[String] =
        SparkEntry.queries(q)(spark, sf("sf0.001"))
          .queryExecution.executedPlan.collectWithSubqueries {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.relation.location.rootPaths.mkString(",")
          }
      val ivf = scanPaths("q_similar_ivf_persisted")
      assert(ivf.count(_.contains("embeddings.parquet")) === 1,
        s"IVF probe must scan the corpus exactly once (queries): $ivf")
      assert(ivf.count(_.contains("ivf_index")) >= 2,
        s"IVF probe must read cells AND centroids from the index: $ivf")
      // the rebuilt-per-call twin re-reads the corpus for centroids +
      // assignment + queries — the contrast that proves the probe is thin
      assert(scanPaths("q_similar_ivf2").count(_.contains("embeddings.parquet")) >= 2)
      val band = scanPaths("q_embed_neardup_persisted")
      assert(band.count(_.contains("embeddings.parquet")) === 2,
        s"band probe scans the corpus only for the increment (sigs + verify): $band")
      assert(band.count(_.contains("band_index")) === 1,
        s"band probe must read the standing band table, not re-band the index: $band")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("IVF placements are map-only") {
    // Placing a vector (or a query) into its best cells is an argmax
    // over a bounded centroid broadcast — the map-only cos_top_cells
    // expression. A row_number window ordered by the centroid cosine
    // (`dist`, or `gdist` for the coarse level) shuffles and sorts the
    // vectors×centroids product to pick the same cells.
    import org.apache.spark.sql.catalyst.expressions.SortOrder
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def byCentroidDistance(order: Seq[SortOrder]): Boolean =
      order.exists(_.child.references.exists(a =>
        a.name == "dist" || a.name == "gdist"))
    val windowed = Seq("q_similar_ivf2", "q_similar_ivf_persisted",
        "q_similar_ivf_quantized", "q_similar_ivf_2lvl",
        "q_similar_ivfpq_persisted").filter { q =>
      physical(SparkEntry.queries(q)(spark, sf("sf0.001")))
        .collectWithSubqueries {
          case w: WindowExec if byCentroidDistance(w.orderSpec) => w
          case w: WindowGroupLimitExec if byCentroidDistance(w.orderSpec) => w
        }.nonEmpty
    }
    assert(windowed.isEmpty,
      s"placements ranked by a centroid-distance window in: ${windowed.mkString(", ")}")
  }

  test("heavy hitters: map-side MG summaries, only candidates reach the count shuffle") {
    val df = SparkEntry.queries("q_heavy_hitters")(spark, sf("sf0.001"))
    df.collect() // let AQE finalize
    val s = physical(df).toString()
    // (1) the candidate pass partial-aggregates per scan task (≤capacity
    // entries per task cross the wire), under ObjectHashAggregate
    assert(s.contains("partial_misra_gries"),
      s"candidate pass lost its map-side partial summary:\n$s")
    // (2) the exact count only ever sees candidate tokens: the token
    // stream is semi-joined against the broadcast candidate set BELOW
    // the partial count — a regression shows up as partial_count
    // directly over the explode (full-vocabulary shuffle, the exact
    // thing this operator exists to avoid)
    val semiBelowCount = ("""(?s)partial_count.*?BroadcastHashJoin \[token#\d+\], \[token#\d+\], LeftSemi""").r
    assert(semiBelowCount.findFirstIn(s).isDefined,
      s"count no longer restricted to broadcast candidates before its shuffle:\n$s")
    // (3) nothing scale-proportional broadcasts: the only broadcasts are
    // the ≤capacity candidate array and the 1-row total
    assert(!s.contains("CartesianProduct"), s"cartesian in heavy hitters:\n$s")
  }

  test("attribution/growth/stickiness plans stay single-key, no nested loop") {
    Seq("q_last_touch", "q_growth_accounting", "q_stickiness",
      "q_setsim_join", "q_dedup_rates").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf("sf0.001"))
      df.collect()
      val s = physical(df).toString()
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
      // the ×7 scatter and the per-user windows are key-partitioned;
      // nothing here may fall to a nested loop
      assert(!s.contains("BroadcastNestedLoopJoin"), s"$q nested loop:\n$s")
    }
  }

  test("round-13 lifecycle queries: no cartesian products anywhere") {
    // hybrid's lexical/semantic scans ride crossJoin(broadcast(≤8-row
    // query set)) — a bounded BroadcastNestedLoopJoin by design (the
    // q_similar_topk convention) — but an unhinted CartesianProduct in
    // any of these is a corpus×corpus accident
    for (q <- Seq("q_hybrid_rrf", "q_leakage_split", "q_leakage_incremental",
        "q_curriculum", "q_curriculum_mix", "q_curriculum_admission",
        "q_quality_drift", "q_cross_source_dups",
        // round-14 additions: semantic dedup's only nested loop is the
        // bounded O(MaxCentroids) centroid broadcast; the budget mix is
        // equi-joins + one source-partitioned window
        "q_semantic_dedup", "q_token_budget_mix", "q_lsh_bucket_audit",
        // mmr/contrastive: the only nested loop is the bounded
        // ≤MaxQueries anchor broadcast
        "q_similar_mmr", "q_contrastive_pairs")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
    }
    // paragraph dedup and winnowing are pure equi-join machinery —
    // nothing may fall to a nested loop; the winner/fingerprint probes
    // must stay hash-key joins
    for (q <- Seq("q_paragraph_dedup", "q_paragraph_incremental",
        "q_winnow_fingerprints", "q_winnow_overlap", "q_winnow_probe",
        "q_winnow_boiler", "q_winnow_attribution", "q_dedup_appended",
        "q_corpus_card", "q_media_neardup")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to all-pairs:\n$s")
    }
  }

  test("round-16 queries: no cartesian products; two-level nests only bounded broadcasts") {
    // the two-level IVF chain nests exactly its bounded broadcasts
    // (coarse ≤ N^0.25 rows, fmap ≤ √N rows — both hinted); an
    // unhinted CartesianProduct anywhere is a corpus×corpus accident
    for (q <- Seq("q_semantic_dedup_auto", "q_semantic_dedup_auto2",
        "q_similar_ivf_2lvl", "q_semantic_admission",
        "q_lm_perplexity_approx", "q_curriculum_approx")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
    }
    // language ID is pure equi-join machinery: trigram explode +
    // row-local trigram histogram + broadcast profile equi-join +
    // doc-keyed aggregate — nothing may fall to a nested loop
    for (q <- Seq("q_lang_id", "q_langid_eval")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to all-pairs:\n$s")
    }
  }

  test("round-19: ADC probes prune the code table BEFORE the ×M explode") {
    // The IVF-PQ saving is candidate-volume pruning; it only survives
    // the ADC if the prune sits BELOW the ×M posexplode of the code
    // table. Assert every code-table Generate has the candidate /
    // probed-cell join in its child subtree — a Generate whose child
    // subtree has no join is exploding the full corpus ×8 before
    // filtering, the round-18 scale wart (the prune must PRECEDE the
    // explode). The plain-PQ chain keeps that explode; the residual
    // chains score map-side (next test).
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    for (q <- Seq("q_similar_ivfpq")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf("sf0.001")))
      val gens = plan.collect {
        case g: GenerateExec if g.generator.toString.contains("codes") => g
      }
      assert(gens.nonEmpty, s"$q: no code-table Generate found")
      gens.foreach { g =>
        val prunes = g.child.collect { case j: BaseJoinExec => j }
        assert(prunes.nonEmpty,
          s"$q: code-table explode not preceded by the candidate join:\n$g")
      }
    }
  }

  test("residual IVF-PQ probes score the probed cells map-side: no explode, no exchange before the table join") {
    // The residual ADC reads each candidate's sums with M table lookups
    // (adc_lookup) right above the probed-cell broadcast join: no
    // Generate over the codes, and the code rows reach that join with
    // no Exchange on their path (a shuffle there would move every
    // landed code row, not just the probed candidates).
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def carriesCodes(p: SparkPlan) = p.output.exists(_.name == "codes")
    def codePath(p: SparkPlan): Seq[SparkPlan] =
      p +: p.children.filter(carriesCodes).flatMap(codePath)
    for (q <- Seq("q_similar_ivfpq_res", "q_similar_ivfpq_persisted",
        "q_similar_ivfpq_deleted")) {
      val plan = physical(SparkEntry.queries(q)(spark, sf("sf0.001")))
      val gens = plan.collect {
        case g: GenerateExec if g.generator.toString.contains("codes") => g
      }
      assert(gens.isEmpty, s"$q explodes the code table:\n$plan")
      val scorers = plan.collect {
        case n if n.expressions.exists(_.exists(
          _.isInstanceOf[graft.expressions.AdcLookup])) => n
      }
      assert(scorers.nonEmpty, s"$q: no adc_lookup scoring found:\n$plan")
      scorers.foreach { n =>
        val joins = n.collect { case j: BaseJoinExec if carriesCodes(j) => j }
        assert(joins.nonEmpty, s"$q: no probed-cell join below the ADC:\n$n")
        val shuffles = codePath(joins.head).collect {
          case e: ShuffleExchangeLike => e
        }
        assert(shuffles.isEmpty,
          s"$q: an Exchange sits between the code rows and the table join:\n$n")
      }
    }
  }

  test("round-19 queries: no cartesian products; nested loops only as bounded broadcast builds") {
    // the Lloyd/curve/audit/delete chains nest exactly their bounded
    // broadcasts (coarse/fmap placement frames, per-(query,cell) LUTs,
    // 1-row count frames); an unhinted CartesianProduct anywhere is a
    // corpus×corpus accident
    for (q <- Seq("q_similar_ivfpq_lloyd", "q_ivfpq_lloyd_recall",
        "q_ivfpq_lloyd_mse", "q_ivfpq_nprobe_curve", "q_ivf_cell_audit",
        "q_similar_ivfpq_deleted", "q_similar_kmeans_int",
        "q_similar_ivfpq_learned", "q_kmeans_cell_audit")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin Inner") &&
        !s.contains("BroadcastNestedLoopJoin LeftOuter"),
        s"$q has a non-bounded nested loop:\n$s")
    }
    // the delete lifecycles and the containment prefix filters are
    // pure equi/semi/anti machinery — the tombstone masks must stay
    // anti-joins and the prefix candidates equi-joins, never nested
    // loops
    for (q <- Seq("q_dedup_deleted", "q_cdc_deleted",
        "q_embed_neardup_deleted", "q_containment_join",
        "q_containment_incremental")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct") &&
        !s.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to all-pairs:\n$s")
    }
    // the drift readout nests only its bounded placement broadcasts
    val drift = planString("q_ivf_cell_drift")
    assert(!drift.contains("CartesianProduct"),
      s"q_ivf_cell_drift plans a cartesian:\n$drift")
  }

  test("round-20: learned-partition assignment is data-shaped — plan size O(1) in K") {
    // The K-scalability contract: centroids travel as ONE broadcast
    // row of array<struct<cid,cm>> (data), never as K baked expression
    // literals. A regression to the baked least(struct…K…) shape shows
    // up as plan text growing linearly with K — guard by comparing the
    // physical plan at K=8 vs K=32 (4×): any K-proportional expression
    // would grow the string by ~4×; the data shape keeps it flat.
    val emb = graft.tables.Tables.embeddings(spark, sf("sf0.001"))
    def planLen(kc: Int): Int =
      Similarity.ivfTopKKmeansInt(emb, 3, kc)
        .queryExecution.executedPlan.toString().length
    val p8 = planLen(8)
    val p32 = planLen(32)
    assert(math.abs(p32 - p8) <= p8 / 10,
      s"assignment plan grows with K (K=8: $p8 chars, K=32: $p32) — " +
        "centroids are baking into the expression tree again")
    // and the √N queries keep the bounded-broadcast discipline: the
    // only nested loop is the 1-row centroid Cross build
    for (q <- Seq("q_similar_kmeans_auto", "q_kmeans_cell_audit_auto")) {
      val s = planString(q)
      assert(!s.contains("least("),
        s"$q bakes a K-literal argmin:\n$s")
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin Inner") &&
        !s.contains("BroadcastNestedLoopJoin LeftOuter"),
        s"$q has a non-bounded nested loop:\n$s")
    }
  }

  test("round-20 queries: no cartesian products; nested loops only as bounded broadcast builds") {
    // the spherical/trade/learned-auto chains nest exactly their
    // bounded broadcasts (centroid rows, per-(query,cell) LUTs, 1-row
    // count frames); the delete lifecycles stay equi/anti machinery
    for (q <- Seq("q_similar_ivfpq_spherical", "q_kmeans_trade",
        "q_similar_ivfpq_learned_auto", "q_ivfpq_lloyd_recall")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin Inner") &&
        !s.contains("BroadcastNestedLoopJoin LeftOuter"),
        s"$q has a non-bounded nested loop:\n$s")
    }
    for (q <- Seq("q_winnow_deleted", "q_similar_pq_deleted",
        "q_similar_ivf_deleted")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
    }
  }

  test("round-18 queries: no cartesian products; nested loops only as bounded broadcast builds") {
    // the residual IVF-PQ chain nests exactly its bounded broadcasts
    // (coarse/fmap placement frames, the per-(query, cell) LUT); the
    // frac-strip's only nested loop is the 1-row total frame. Any
    // CartesianProduct — or a nested loop that is not a BuildRight of
    // a broadcast — is a corpus×corpus accident.
    for (q <- Seq("q_similar_ivfpq_res", "q_similar_ivfpq_persisted",
        "q_similar_pq_kmeans", "q_ivfpq_recall", "q_cdc_strip_frac")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin Inner") &&
        !s.contains("BroadcastNestedLoopJoin LeftOuter"),
        s"$q has a non-bounded nested loop:\n$s")
    }
    // v8 is pure equi/semi/anti machinery end to end — dedup gates,
    // strip anti-join, clean-text quality, embedding attach: nothing
    // may fall to a nested loop at all
    val v8 = planString("q_curate_v8")
    assert(!v8.contains("CartesianProduct") &&
      !v8.contains("BroadcastNestedLoopJoin"),
      s"q_curate_v8 degenerated to all-pairs:\n$v8")
  }

  test("round-16b queries: projection is one narrow pass; NB/ANN stay equi-joined") {
    // rp_project is a single scan + native expression: no join anywhere,
    // and the ONLY exchange is the final presentation sort's range
    // partitioning — a second exchange would mean the projection
    // shuffled corpus data
    val rp = planString("q_rp_project")
    assert(!rp.contains("Join"), s"q_rp_project grew a join:\n$rp")
    assert("Exchange".r.findAllIn(rp).size <= 1,
      s"q_rp_project shuffles beyond the final sort:\n$rp")
    // NB classifier: the class-constant frame rides a bounded
    // O(|classes|) broadcast nest by design; anything unhinted
    // (corpus × corpus) is an accident. The token joins are equi.
    for (q <- Seq("q_nb_classify", "q_nb_confusion",
        "q_similar_rp", "q_cluster_sample", "q_pq_recall")) {
      val s = planString(q)
      assert(!s.contains("CartesianProduct"), s"$q plans a cartesian:\n$s")
    }
    // CDC containment is pure equi-join machinery (inverted fp index,
    // within-group self-join, doc-keyed count joins) — nothing may
    // fall to a nested loop; the strip family (fp anti-join + doc-keyed
    // re-assembly) likewise
    for (q <- Seq("q_cdc_containment", "q_cdc_strip",
        "q_cdc_strip_incremental")) {
      val cc = planString(q)
      assert(!cc.contains("CartesianProduct") &&
        !cc.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to all-pairs:\n$cc")
    }
    // the projected-ANN candidate join must stay a hash equi-join on
    // (band, sig) — a nested loop here is the all-pairs degeneration
    // the banding exists to avoid
    val srp = planString("q_similar_rp")
    assert(srp.contains("BroadcastHashJoin") || srp.contains("SortMergeJoin")
      || srp.contains("ShuffledHashJoin"),
      s"q_similar_rp lost its equi-join:\n$srp")
  }

  test("cdc chunking: one doc-keyed exchange carries window AND re-assembly") {
    // the chunk-id cumsum window and the (doc_id, chunk_id) re-assembly
    // aggregate must share one hashpartitioning(doc_id) — a second hash
    // exchange between them means the aggregate stopped riding the
    // window's clustering; the only other exchange is the presentation
    // sort's range partitioning
    val s = planString("q_cdc_chunks")
    assert(!s.contains("Join"), s"cdc grew a join:\n$s")
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1,
      s"cdc re-shuffled between window and aggregate:\n$s")
    assert("Exchange".r.findAllIn(s).size <= 2,
      s"cdc has more exchanges than (doc-key + final sort):\n$s")
    val scan = formattedPlan("q_cdc_chunks")
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"cdc scan must prune to (doc_id, text):\n$scan")
  }

  test("curriculum joins its bucket offsets and stage floors as broadcasts") {
    val s = planString("q_curriculum")
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"bucket-offset join did not broadcast:\n$s")
    val a = planString("q_curriculum_admission")
    assert(a.contains("BroadcastNestedLoopJoin") || a.contains("BroadcastExchange"),
      s"threshold frame did not broadcast:\n$a")
  }

  test("bounded single-partition windows: the constants that cap them stay small") {
    import Similarity._
    import graft.operators.TrainPrep
    // The engine tolerates a handful of UNPARTITIONED windows because
    // each provably orders a bounded frame, never the corpus. The
    // bounds are compile-time constants — so the guard belongs here: a
    // future constant bump (PqK → 2¹⁶ for 16-bit codes, say) must fail
    // THIS test, not ship a corpus-wide single-partition sort.
    //  - pqCodebookRows: Window.orderBy(centroid_id) over the ≤ PqK
    //    rank-stride training rows (its scaladoc cites this bound);
    //  - pqEncodeColumn: bakes PqM·PqK·PqSubDim longs into the plan as
    //    a flat literal — plan size, broadcast cost and the per-round
    //    Lloyd collect all ride this product;
    //  - withVecRank's bucket-offset window orders ≤
    //    spark.sql.shuffle.partitions rows (conf-bound, not a
    //    constant — its scaladoc cites the bound);
    //  - vocabTopK's id window ranks only its limit(K) survivors.
    assert(PqK <= 256,
      "PqK caps pqCodebookRows' unpartitioned j-assignment window " +
        "and the per-subspace codeword count of the PqEncode bake")
    assert(PqM * PqK * PqSubDim <= 65536,
      "the baked flat codebook must stay a small plan literal " +
        "(collected per encode call under the driver-scalar ledger)")
    assert(TrainPrep.VocabK <= 10000,
      "vocabTopK's vocab-id window orders only the top-K survivors")
    assert(MmrPoolK <= 1024,
      "MMR's per-round driver lift is bounded by the pool size")
    // runtime confirmation on a corpus larger than PqK: the codebook
    // (= the window's output) carries exactly M rows per training row,
    // min(PqK, n) training rows — the window input was the bounded
    // training frame, not the corpus
    import spark.implicits._
    val emb = (0 until 100).map(i => (i.toLong,
      Array.tabulate(64)(d => math.sin(i * 7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    assert(Similarity.pqCodebook(emb).count() === (PqM * PqK).toLong)
  }
}
