package graft

import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Output contract: a COMPACT JSON line (totals + errors, no per-query
  * map) to stdout — small enough to survive the driver's output-tail
  * capture — the FULL line (per-query map included) to the file named
  * by SPARK_GRAFT_BENCH_OUT (default `bench_out.json` in the cwd), and
  * the same full line, timestamped, APPENDED to
  * SPARK_GRAFT_BENCH_HISTORY (default `bench_history.jsonl`) — the
  * committed round-over-round per-query record.
  *
  * Methodology:
  *  - each query is timed to FULL MATERIALIZATION via a noop-format
  *    write (`"timer":"noop-write"`), never `count()`: under a count,
  *    ColumnPruning/EliminateSorts delete projection- and window-only
  *    work from the optimized plan (verified: `simhash16`, the
  *    rolling-avg Window, and `regexp_extract_all` all vanish), so a
  *    count-based number for an expression-heavy query is just the scan
  *    floor. The noop sink executes every operator and row without
  *    accumulating results on the driver (collect() would).
  *  - each query is timed SPARK_GRAFT_BENCH_PASSES times (default 3
  *    as of round 13 — the r10→r11 zero-code-change swing showed two
  *    passes leave ±20% run-to-run noise in the min; three tightens
  *    the floor to ~5% — measured twice in round 13 on same-code
  *    consecutive sf0.1 pairs: 0.9815 vs 1.0253 sec/query (4.45%)
  *    pre-memo and 0.7464 vs 0.7117 (4.64%) at round end. Caveat: the
  *    FIRST bench after heavy unrelated JVM/page-cache churn can sit
  *    ~9% high across the board; steady-state pairs are the
  *    comparable ones — so a real regression is distinguishable from
  *    drift) and the recorded value is the per-query MIN across passes
  *    (`"timer":"noop-write-min3"`). Rationale: round-7 forensics
  *    showed the same code timing 4.3 s vs 22.8 s on the same query
  *    depending on when in a long session the bench ran (JIT/GC/page-
  *    cache drift); a single-pass reading late in a session
  *    misrepresents the engine by ~35%. The min across passes is the
  *    standard noise-floor estimator for wall-clock microbenchmarks —
  *    drift only ever ADDS time, so the min is the least-poisoned
  *    observation. Pass structure: all queries pass 1 (sorted order),
  *    then all queries pass 2 — not back-to-back per query — so pass 2
  *    does not reuse query-local page-cache warmth that pass 1 just
  *    created (which would under-time cold scans).
  *  - queries run in deterministic (sorted-name) order, so per-query
  *    numbers are comparable across rounds;
  *  - one warmup pass (the first query in sorted-name order) first, so
  *    JVM/codegen/first-scan startup cost is not attributed to whichever
  *    query happens to run first;
  *  - a failing query records `"errors":{name:msg}` and a wall-time of
  *    its failure point — never silently recorded as fast/-1; a query
  *    that fails in ANY pass is an error (no min over a partial run).
  *    Errored queries are EXCLUDED from the headline aggregates
  *    (`value`, `sec_per_query`, `n_queries` count successful queries
  *    only; `n_errors` carries the failure count) — a failure time is
  *    an analysis-error floor, not a measurement, and folding it in
  *    makes a broken round look fast (the r10/r11 trend-poisoning bug).
  *    The per-query map still lists errored names (keyed in `errors`)
  *    so history diffs show WHERE a round broke.
  *  - `"memo_build"` records the one-time session-memo build costs
  *    (cluster labels, v5 emit — see [[graft.operators.MemoLedger]]):
  *    paid by the first consumer in pass 1, hence absent from every
  *    per-query min; surfacing them keeps a memo-schedule change from
  *    reading as a query speedup in round-over-round diffs.
  *  - round-14 measurement notes: (1) the banded-LSH hot-bucket guard
  *    (exact-set collapse + bucket cap + explode expansion,
  *    TextDedup.expandScored) adds ~0.3-0.5 s FIXED stage overhead per
  *    minhash-family query at sf0.01 — one collapse aggregate plus the
  *    pair-dedup exchange; constant in SF, and the price of removing
  *    the d²-candidate degenerate-bucket failure at 100 TB. (2) that
  *    estimate is drift-corrected: three same-day full runs showed the
  *    BOX itself drifting +23% median (+43% on TPC-H q1, which touches
  *    no changed code) over a long session — per-query deltas across
  *    rounds should be read against a control set of untouched
  *    queries, not as raw numbers.
  *  - the compact stdout line additionally carries `"queries_top"` —
  *    the 20 slowest per-query times — because the driver's output-tail
  *    capture is bounded at 2000 chars and cannot hold the full
  *    158-entry map; the full map still goes to bench_out.json and
  *    bench_history.jsonl (both committed), keyed identically.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // dev loop: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just those queries
    // (driver runs always leave it unset and time the full set)
    val selected = SparkEntry.selected("SPARK_GRAFT_BENCH_ONLY")
    val spark = GraftSession(GraftSession.mainCores)

    // Full materialization without driver accumulation: every operator
    // and row executes (unlike count(), see scaladoc), nothing collects.
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // Warmup, not timed: JVM/codegen via the first timed query, plus a
    // column-materializing pass over every input table so no timed query
    // pays first-scan I/O. NB count() alone plans an empty ReadSchema
    // (footers only) — foreach forces the column chunks to be read.
    try {
      run(selected.toSeq.sortBy(_._1).head._2(spark, sfDir))
      graft.tables.Tables.all.foreach { t =>
        try graft.tables.Tables.load(spark, sfDir, t).foreach(_ => ())
        catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(passes >= 1, "SPARK_GRAFT_BENCH_PASSES must be >= 1")
    val ordered = selected.toSeq.sortBy(_._1)
    // pass-major order (all queries pass 1, then pass 2): see scaladoc.
    // Each pass records (time, succeeded) — the min below must never
    // mix a fast FAILURE time into a query's recorded value.
    val perPass = (1 to passes).map { _ =>
      ordered.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { run(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // release per-query persists (lmPerplexity, dsirWeights, the
        // divergence cache, ...) OUTSIDE the timing window: operators
        // cache corpus-scale frames for their own multi-branch plans
        // and the session would otherwise accumulate every query's
        // MEMORY_AND_DISK entries across 185 queries × N passes. No
        // timed query reads ANOTHER query's cache; a later pass of the
        // SAME query, however, used to hit its own pass-1 persists, so
        // pre-round-13 records under-measured persist-heavy queries
        // (q_lm_perplexity recorded 2.15 s warm in r12 vs ~4.2 s
        // honest-cold after this clear — a measurement fix, not a
        // regression). Every pass now pays its own cache builds.
        spark.catalog.clearCache()
        name -> (dt, ok)
      }.toMap
    }
    val results = ordered.map { case (name, _) =>
      val runs = perPass.map(_(name))
      val good = runs.filter(_._2).map(_._1)
      // min over SUCCESSFUL passes only; a query that never succeeded
      // records its (slowest) failure time and sits in `errors`
      name -> (if (good.nonEmpty) good.min else runs.map(_._1).max)
    }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    // headline aggregates over SUCCESSFUL queries only (see scaladoc)
    val valid = results.filterNot { case (k, _) => errors.contains(k) }
    val total = valid.map(_._2).sum
    // the query count grows round over round, so the cross-round
    // comparable figure is sec/query, not the total
    val perQuery = if (valid.nonEmpty) total / valid.size else 0.0
    // bounded top-N slowest for the 2000-char stdout tail (see scaladoc)
    val topQs = valid.sortBy(-_._2).take(20)
      .map { case (k, v) => s"${jstr(k)}:${math.round(v * 1000) / 1000.0}" }
      .mkString("{", ",", "}")
    // one-time session-memo build costs (cluster labels, v5 emit):
    // paid by the first consumer in pass 1 and therefore present in NO
    // per-query min — recorded as their own lines so round-over-round
    // diffs can't mistake a memo-schedule change for a query speedup
    // (headline semantics unchanged: production lands these tables
    // once per corpus snapshot, the per-query numbers price the
    // steady-state reads)
    val memoJson = graft.operators.MemoLedger.snapshot.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jstr(k)}:${math.round(v * 1000) / 1000.0}" }
      .mkString("{", ",", "}")
    val head =
      s""""metric":"total","value":$total,"unit":"sec","n_queries":${valid.size},"n_errors":${errors.size},"sec_per_query":$perQuery,"timer":"noop-write-min$passes","passes":$passes,"errors":$errJson,"memo_build":$memoJson,"queries_top":$topQs,"sf":${jstr(sfDir)}"""
    // stdout stays compact (the driver parses a bounded output tail);
    // the per-query map goes only to the files
    println(s"{$head}")
    val full = s"""{$head,"queries":$qs}""" + "\n"
    Files.writeString(Paths.get(outPath), full)
    // COMMITTED history: bench_out.json is overwritten every run, so
    // round-over-round per-query comparison needs an append-only log
    // (one JSON line per run, timestamped) that lives in git
    val histPath = Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_HISTORY", "bench_history.jsonl"))
    val stamped = s"""{"ts":${System.currentTimeMillis()},$head,"queries":$qs}""" + "\n"
    Files.writeString(histPath, stamped,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
