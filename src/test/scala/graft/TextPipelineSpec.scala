package graft

import org.apache.spark.sql.functions._
import graft.index.IndexStore
import graft.operators.{Multimodal, Similarity, TextDedup, TextStats}

/** LLM-data-pipeline operators on small planted fixtures. */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  // base is long enough that a one-token change keeps Jaccard ~0.95 —
  // comfortably above the 4x4-band LSH threshold (~0.71), so candidate
  // recall is deterministic-by-margin, not luck.
  private val base = "the quick brown fox jumps over the lazy dog and runs away " +
    "while the farmer watches from the old wooden gate near the quiet river bank"
  private val docs = Seq(
    (1L, base + " today", "en", "s1"),
    (2L, base + " yesterday", "en", "s1"), // near-dup of 1
    (3L, "completely different text about spark shuffles and partitions here", "en", "s1"),
    (4L, base + " today", "en", "s2"),     // exact dup of 1
    (5L, "der hund und die katze und das haus und der baum sind da", "de", "s2"))
    .toDF("doc_id", "text", "lang", "source")
    .withColumn("n_chars", length(col("text")).cast("long"))

  test("exact dedup groups identical texts and keeps the minimum id") {
    val groups = TextDedup.exactDedup(docs).collect()
    val dup = groups.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) === 1L) // keep_id = min(1, 4)
    assert(groups.length === 4)   // 5 docs, one merged pair
  }

  test("minhash LSH finds the planted near-dup pair and nothing else") {
    val pairs = TextDedup.minhashPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // exact dup is trivially a near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash estimation: exact dups estimate 1.0 exactly; error bounded by slots") {
    val out = TextDedup.minhashEstimation(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    // 1 and 4 are byte-identical: every slot agrees, estimate and exact
    // both 1.0, error exactly 0
    val (j14, m14, e14, err14) = out((1L, 4L))
    assert(j14 === 1.0 && m14 === 16L && e14 === 1.0 && err14 === 0.0)
    // the planted near-dup (1,2): estimator lives on the K-slot grid
    val (_, m12, e12, err12) = out((1L, 2L))
    assert(e12 === m12.toDouble / 16)
    assert(err12 >= 0.0 && err12 <= 1.0)
  }

  test("containment catches the subset-dup Jaccard dilutes") {
    // doc 7 = doc 1's text plus a trailing paragraph: every shingle of 1
    // appears in 7 (containment 1.0), but the extension drags Jaccard
    // under the 0.8 near-dup threshold — minhashPairs misses the pair,
    // containmentPairs reports it. (The banding still collides: the
    // fixture's Jaccard sits above the 4x4 LSH operating point and the
    // permutations are fixed, so candidate recall is deterministic.)
    val extended = docs.unionByName(Seq(
      (7L, base + " today and the story then continues onward with detail", "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long")))
    val jac = TextDedup.minhashPairs(extended)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val cont = TextDedup.containmentPairs(extended)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cont.contains((1L, 7L)), s"subset pair missing: $cont")
    assert(cont((1L, 7L)) === 1.0)
    assert(!jac.contains((1L, 7L)),
      "fixture no longer demonstrates the Jaccard blind spot")
  }

  test("containment JOIN catches the deep subset-dup the banded form structurally misses") {
    import spark.implicits._
    // a short doc wholly quoted inside a MUCH longer host: containment
    // 1.0 but Jaccard ≈ |short|/|host| ≪ the 4×4 banding's ~0.5
    // operating point — no band collides, so the banded containment
    // pass is structurally blind to it; the exact prefix×postings
    // filter may not lose it
    val short_ = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val filler = (1 to 400).map(i => s"w$i unique$i").mkString(" ")
    val fix = Seq(
      (1L, short_),
      (2L, s"$filler $short_"),
      (3L, "entirely unrelated content on another subject matter"))
      .toDF("doc_id", "text")
    val exact = TextDedup.containmentJoin(fix)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(exact.contains((1L, 2L)), s"deep subset pair missing: $exact")
    assert(exact((1L, 2L)) === 1.0)
    val banded = TextDedup.containmentPairs(fix)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(!banded.contains((1L, 2L)),
      "fixture no longer demonstrates the banding blind spot")
    // exactness: equals brute force over the fixture
    val hs = fix.select(col("doc_id"),
      org.apache.spark.sql.functions.call_function("hashed_shingle_set",
        col("text"), lit(TextDedup.ShingleN)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    def contain(a: Long, b: Long): Double = {
      val (x, y) = (hs(a).toSet, hs(b).toSet)
      (x & y).size.toDouble / math.min(x.size, y.size)
    }
    val brute = (for {
      a <- hs.keys; b <- hs.keys; if a < b
      if contain(a, b) >= TextDedup.ContainmentThreshold
    } yield (a, b)).toSet
    assert(exact.keySet === brute, "prefix filter must equal brute force")
  }

  test("cross-corpus near-dup pairs the probe against the index only") {
    val probe = docs.filter(col("doc_id") === 2L)
    val index = docs.filter(col("doc_id") =!= 2L)
    val pairs = TextDedup.crossCorpusPairs(probe, index)
      .select("probe_id", "index_id").as[(Long, Long)].collect().toSet
    // doc 2 near-dups 1 and its exact copy 4; never pairs probe-to-probe
    assert(pairs === Set((2L, 1L), (2L, 4L)))
  }

  test("streaming incremental near-dup equals the batch cross-corpus pairs") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-ndup-stream")
    val probe = docs.filter(col("doc_id") === 2L)
    val index = docs.filter(col("doc_id") =!= 2L)
    probe.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(probe.schema).parquet(s"$dir/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = TextDedup.streamingNearDup(stream, index) { (pairs, _) =>
      val rows = pairs.select("probe_id", "index_id", "jaccard")
        .as[(Long, Long, Double)].collect()
      got.synchronized { got ++= rows }
    }
    try {
      // a false return means timeout with the query still running — fail
      // clearly rather than asserting against a partially-filled buffer
      assert(q.awaitTermination(120000), "streaming query did not finish in time")
      val batch = TextDedup.crossCorpusPairs(probe, index)
        .select("probe_id", "index_id", "jaccard")
        .as[(Long, Long, Double)].collect()
      assert(got.sortBy(p => (p._1, p._2)).toSeq ===
        batch.sortBy(p => (p._1, p._2)).toSeq)
      assert(got.map(_._2).toSet === Set(1L, 4L))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("band index append: build(odd)+append(even) probes == the one-shot build") {
    // banding is per-vector (no corpus-derived state), so the append
    // is unconditionally answer-invariant — row-for-row
    val one = Similarity.qEmbedNearDupPersisted(spark, sfSmoke)
      .collect().map(_.toString).toSeq
    val app = Similarity.qEmbedNearDupAppended(spark, sfSmoke)
      .collect().map(_.toString).toSeq
    assert(app === one)
    assert(one.nonEmpty)
  }

  test("band index delete: masks immediately and exactly; replays safe; rebuild applies and clears") {
    import Similarity._
    import graft.tables.Tables
    val emb = Tables.embeddings(spark, sfSmoke)
    val path = java.nio.file.Files
      .createTempDirectory("graft-band-del").toString
    val standing = emb.filter(col("vec_id") % EmbedIncrementMod =!= 0)
    val probe = emb.filter(col("vec_id") % EmbedIncrementMod === 0)
    writeBandIndex(standing, path)
    def rows() = bandProbeIndex(spark, path, probe, 0.4)
      .select("probe_id", "index_id").as[(Long, Long)]
      .collect().sortBy(identity).toSeq
    val before = rows()
    assert(before.nonEmpty, "vacuous fixture")
    val victim = before.head._2
    deleteIvfPqIndex(spark, path, Seq(victim).toDF("vec_id"))
    val after = rows()
    assert(after === before.filterNot(_._2 == victim),
      "the mask must remove exactly the victim's pairs")
    // replayed delete: identity-addressed no-op
    deleteIvfPqIndex(spark, path, Seq(victim).toDF("vec_id"))
    assert(rows() === after)
    // an append of the victim lands its band rows as a fresh identity
    // batch — the standing mask must keep it invisible
    appendBandIndex(path, emb.filter(col("vec_id") === victim))
    assert(rows() === after,
      "a replayed append must not resurrect a deleted vector")
    // rebuild over the survivors applies and clears the tombstones
    writeBandIndex(standing.filter(col("vec_id") =!= victim), path)
    assert(!new java.io.File(s"$path/deletes").exists(),
      "rebuild must clear applied tombstones")
    assert(rows() === after)
  }

  test("dedup index append+compact: lifecycle == one-shot build, probes agree") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-life")
    try {
      val pathA = s"$dir/appended"; val pathB = s"$dir/oneshot"
      // the exact-dup family (1, 4) STRADDLES the build/append split,
      // so the appended index temporarily holds two reps for one set
      val p1 = docs.filter(col("doc_id").isin(1L, 3L))
      val p2 = docs.filter(col("doc_id").isin(2L, 4L, 5L))
      val probe = Seq((10L, base + " tonight")).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("probe_id", "index_id", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
      TextDedup.writeDedupIndex(p1, pathA)
      TextDedup.appendDedupIndex(spark, pathA, p2)
      val setsBefore = TextDedup.dedupIndexSets(spark, pathA).count()
      val pre = rows(TextDedup.dedupProbeIndex(spark, pathA, probe))
      TextDedup.compactDedupIndex(spark, pathA)
      val post = rows(TextDedup.dedupProbeIndex(spark, pathA, probe))
      TextDedup.writeDedupIndex(docs, pathB)
      val oneShot = rows(TextDedup.dedupProbeIndex(spark, pathB, probe))
      assert(pre === oneShot, "append drifted from the one-shot build")
      assert(post === oneShot, "compaction changed probe answers")
      assert(pre.map(_._2).toSet === Set(1L, 2L, 4L))
      // the straddling set's two reps really merged away...
      val setsAfter = TextDedup.dedupIndexSets(spark, pathA).count()
      assert(setsBefore === setsAfter + 1)
      // ...and the compacted layout is ROW-equivalent to the fresh build
      def layout(path: String) = (
        TextDedup.dedupIndexSets(spark, path)
          .select(col("doc_id"), col("hs"), col("chunk_id"),
            array_sort(col("members")))
          .collect().map(_.toString).sorted.toSeq,
        TextDedup.dedupIndexBands(spark, path)
          .collect().map(_.toString).sorted.toSeq)
      assert(layout(pathA) === layout(pathB))
      // compaction is idempotent: a second compact re-lands the same rows
      TextDedup.compactDedupIndex(spark, pathA)
      assert(layout(pathA) === layout(pathB), "compact ∘ compact drifted")
      assert(rows(TextDedup.dedupProbeIndex(spark, pathA, probe)) === oneShot)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("dedup index delete: masks immediately, applies at compact; delete replay and delete-then-replay-append are safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-del")
    try {
      val path = s"$dir/idx"; val pathB = s"$dir/fresh"
      val probe = Seq((10L, base + " tonight")).toDF("doc_id", "text")
      def rows(p: String) = TextDedup.dedupProbeIndex(spark, p, probe)
        .select("probe_id", "index_id", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
      def layout(p: String) = (
        TextDedup.dedupIndexSets(spark, p)
          .select(col("doc_id"), col("hs"), col("chunk_id"),
            array_sort(col("members")))
          .collect().map(_.toString).sorted.toSeq,
        TextDedup.dedupIndexBands(spark, p)
          .collect().map(_.toString).sorted.toSeq)
      TextDedup.writeDedupIndex(docs.filter(col("doc_id").isin(1L, 3L)), path)
      TextDedup.appendDedupIndex(spark, path,
        docs.filter(col("doc_id").isin(2L, 4L, 5L)))
      assert(rows(path).map(_._2).toSet === Set(1L, 2L, 4L))
      // delete doc 2: masked IMMEDIATELY, before any compact
      TextDedup.deleteDedupIndex(spark, path, Seq(2L).toDF("doc_id"))
      val masked = rows(path)
      assert(masked.map(_._2).toSet === Set(1L, 4L))
      // replayed delete: identity-addressed no-op (answers + batch dirs)
      TextDedup.deleteDedupIndex(spark, path, Seq(2L).toDF("doc_id"))
      assert(rows(path) === masked)
      val delDirs = new java.io.File(IndexStore.currentIndexDir(spark, path)
          .stripPrefix("file:"), "deletes")
        .listFiles().map(_.getName).filter(_.startsWith("batch=")).toSeq
      assert(delDirs.size === 1, s"replayed delete landed twice: $delDirs")
      // compact APPLIES: sets/bands row-equivalent to a fresh build
      // over the surviving corpus, probe answers unchanged
      TextDedup.compactDedupIndex(spark, path)
      assert(rows(path) === masked, "compaction changed masked answers")
      TextDedup.writeDedupIndex(docs.filter(col("doc_id") =!= 2L), pathB)
      assert(layout(path) === layout(pathB),
        "post-compact layout must equal a fresh build over the survivors")
      // replayed DELETE after the compact consolidated its batch away:
      // the carried manifest makes it a no-op (no fresh batch dir)
      TextDedup.deleteDedupIndex(spark, path, Seq(2L).toDF("doc_id"))
      val delDirs2 = new java.io.File(IndexStore.currentIndexDir(spark, path)
          .stripPrefix("file:"), "deletes")
        .listFiles().map(_.getName).filter(_.startsWith("batch=")).toSeq
      assert(delDirs2 === Seq("batch=compacted"),
        s"replay-after-compact re-landed: $delDirs2")
      // delete-then-REPLAY-APPEND: a retried old append physically
      // re-lands doc 2's membership (dedup appends are mode(append)
      // with compact-as-recovery) — the RETAINED tombstones keep it
      // masked, and the next compact prunes it again
      TextDedup.appendDedupIndex(spark, path,
        docs.filter(col("doc_id").isin(2L, 4L, 5L)))
      // pre-compact the replay legitimately duplicates surviving pair
      // rows (two reps per straddling set — the documented
      // compact-as-recovery contract); the assertion is that doc 2
      // stays OUT
      assert(rows(path).map(_._2).toSet === Set(1L, 4L),
        "a replayed append must not resurrect a deleted doc")
      TextDedup.compactDedupIndex(spark, path)
      assert(rows(path) === masked)
      assert(layout(path) === layout(pathB),
        "re-compact must prune the resurrected membership again")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("index install crash windows: reader keeps the old version; next lifecycle sweeps orphans, retains previous") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-crash")
    try {
      val path = s"$dir/idx"
      val p1 = docs.filter(col("doc_id").isin(1L, 3L))
      val probe = Seq((10L, base + " tonight")).toDF("doc_id", "text")
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("probe_id", "index_id", "jaccard")
        .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
      def versions(p: String = path) = new java.io.File(p).listFiles()
        .map(_.getName).filter(_.matches("v\\d{6}")).sorted.toSeq
      def committed(v: String, p: String = path) =
        new java.io.File(s"$p/$v/_COMMITTED").exists()
      def crashInstall(p: String, after: Int): Unit =
        intercept[RuntimeException] {
          IndexStore.installIndexVersion(spark, p) { d =>
            if (after >= 1)
              Seq((1L, "x")).toDF("doc_id", "hs").write.parquet(s"$d/sets")
            if (after >= 2)
              Seq((1L, "x")).toDF("doc_id", "hs").write.parquet(s"$d/bands")
            throw new RuntimeException("simulated crash")
          }
        }
      TextDedup.writeDedupIndex(p1, path)
      val v0 = IndexStore.currentIndexDir(spark, path)
      val baseline = rows(TextDedup.dedupProbeIndex(spark, path, probe))
      assert(baseline.nonEmpty, "vacuous: probe must hit the standing side")
      // simulate a kill in each window of the NEXT install: before any
      // table lands, after sets/, and after sets/ + bands/ (marker never
      // created) — the reader must keep resolving the old version with
      // identical probe answers after every crash
      (0 to 2).foreach { after =>
        crashInstall(path, after)
        assert(IndexStore.currentIndexDir(spark, path) === v0,
          s"crash window $after moved the live version")
        assert(rows(TextDedup.dedupProbeIndex(spark, path, probe)) === baseline,
          s"crash window $after changed probe answers")
      }
      // the window-0 crash writes nothing, so no dir lands for it;
      // windows 1 and 2 each leave an uncommitted orphan dir
      assert(versions().size === 3, "two orphan version dirs + v000000")
      // the next real lifecycle call sweeps every orphan, commits the
      // new version, and RETAINS the previous committed one (in-flight
      // readers of v0 keep their files)
      TextDedup.writeDedupIndex(docs, path)
      val afterBuild = versions()
      assert(afterBuild.size === 2, s"expected {v0, new}, got $afterBuild")
      assert(afterBuild.contains(v0.split('/').last), "previous version swept too early")
      assert(afterBuild.forall(committed(_)), "orphans must be gone")
      val full = rows(TextDedup.dedupProbeIndex(spark, path, probe))
      // one MORE install finally sweeps v0
      TextDedup.writeDedupIndex(docs, path)
      val afterSecond = versions()
      assert(afterSecond.size === 2)
      assert(!afterSecond.contains(v0.split('/').last),
        "two-installs-ago version must now be swept")
      assert(rows(TextDedup.dedupProbeIndex(spark, path, probe)) === full)
      // a FIRST install that dies after both tables land: the unmarked
      // version is never served, and the next install commits a fresh
      // version and sweeps the orphan
      val fresh = s"$dir/fresh"
      crashInstall(fresh, 2)
      assert(versions(fresh) === Seq("v000000"))
      val unserved = intercept[IllegalArgumentException] {
        TextDedup.dedupProbeIndex(spark, fresh, probe)
      }
      assert(unserved.getMessage.contains("no committed dedup-index version"))
      TextDedup.writeDedupIndex(p1, fresh)
      assert(versions(fresh) === Seq("v000001"),
        "the orphan first install must be swept")
      assert(committed("v000001", fresh))
      assert(rows(TextDedup.dedupProbeIndex(spark, fresh, probe)) === baseline)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("membership chunking: spread ids pack into count-based chunks, not one row per bucket") {
    // a dup family whose ids land all over the id space — the normal
    // crawl case. Pure value-bucketing would emit ONE chunk row per
    // member (every id its own 7-wide bucket) and the banded candidate
    // join would pay chunk-pairs ∝ |A|·|B|; the count-based second
    // level must pack them back to ~|set|/chunk rows
    val ids = (0 until 24).map(i => i.toLong * 1000003L)
    val spread = ids.map(i => (i, base + " spread"))
      .toDF("doc_id", "text")
    spark.conf.set("spark.graft.dedupChunkMembers", "7")
    try {
      val rows = TextDedup.collapseGroups(spread).collect()
      assert(rows.length <= 24 / 7 + 1,
        s"spread ids must pack by count, got ${rows.length} rows")
      assert(rows.map(_.getAs[scala.collection.Seq[Long]]("members").size).sum == 24)
      assert(rows.forall(_.getAs[scala.collection.Seq[Long]]("members").size <= 13))
      // chunk ids contiguous from 0, rep (global min = 0) in chunk 0
      assert(rows.map(_.getAs[Int]("chunk_id")).sorted.toSeq ===
        (0 until rows.length))
      assert(rows.filter(_.getAs[Int]("chunk_id") == 0).head
        .getAs[scala.collection.Seq[Long]]("members").head === 0L)
      assert(rows.forall(_.getLong(0) == 0L), "set_rep must be the minimum")
      // members stay globally sorted across the packed chunks
      val inOrder = rows.sortBy(_.getAs[Int]("chunk_id"))
        .flatMap(_.getAs[scala.collection.Seq[Long]]("members"))
      assert(inOrder.toSeq === ids.sorted)
    } finally spark.conf.unset("spark.graft.dedupChunkMembers")
  }

  test("membership chunking: a planted mega-family splits into bounded rows; answers are chunk-invariant") {
    // two exact-dup families, near-dups of EACH OTHER: exercises the
    // intra (within-set) and cross (between-set) expansions across
    // chunk boundaries
    val famA = (1L to 23L).map(i => (i, base + " alpha"))
    val famB = (101L to 118L).map(i => (i, base + " beta"))
    val mega = (famA ++ famB :+
      ((200L, "totally unrelated text about glaciers and moraines today")))
      .toDF("doc_id", "text")
    def pairs() = TextDedup.minhashPairs(mega).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def xpairs() = TextDedup.crossCorpusPairs(
        mega.filter(col("doc_id") >= 100L), mega.filter(col("doc_id") < 100L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val defaultPairs = pairs(); val defaultCross = xpairs()
    assert(defaultPairs.nonEmpty && defaultCross.nonEmpty)
    spark.conf.set("spark.graft.dedupChunkMembers", "7")
    try {
      val groups = TextDedup.collapseGroups(mega).collect()
      // two-level packing bound: a bucket straddling a pack boundary
      // ships whole, so rows carry < 2x the configured size
      assert(groups.forall(_.getAs[scala.collection.Seq[Long]]("members").size <= 13),
        "chunk rows must be bounded by 2x the configured size - 1")
      // and the ROW COUNT is count-based, never id-spread-based
      groups.groupBy(_.getLong(0)).foreach { case (rep, rs) =>
        val total = rs.map(_.getAs[scala.collection.Seq[Long]]("members").size).sum
        assert(rs.length <= total / 7 + 1,
          s"set $rep: ${rs.length} chunk rows for $total members")
      }
      assert(groups.count(_.getAs[Int]("chunk_id") > 0) > 0,
        "the families must really have split")
      // chunk 0 always carries the representative (the group minimum)
      groups.groupBy(_.getLong(0)).foreach { case (rep, rs) =>
        val c0 = rs.filter(_.getAs[Int]("chunk_id") == 0)
        assert(c0.length == 1 &&
          c0.head.getAs[scala.collection.Seq[Long]]("members").contains(rep),
          s"set $rep: chunk 0 must hold the representative")
      }
      assert(pairs() === defaultPairs,
        "self-join pairs changed under chunking")
      assert(xpairs() === defaultCross,
        "cross-corpus pairs changed under chunking")
      // persisted lifecycle under chunking: build + append + compact +
      // probe, with the probe matching the in-memory spelling
      val dir =
        java.nio.file.Files.createTempDirectory("graft-chunk-idx")
      try {
        val p = dir.toString
        TextDedup.writeDedupIndex(mega.filter(col("doc_id") <= 10L), p)
        TextDedup.appendDedupIndex(spark, p,
          mega.filter(col("doc_id") > 10L))
        TextDedup.compactDedupIndex(spark, p)
        assert(TextDedup.dedupIndexSets(spark, p).collect()
          .forall(_.getAs[scala.collection.Seq[Long]]("members").size <= 13),
          "persisted chunk rows must stay bounded through the lifecycle")
        val probe = Seq((900L, base + " alpha")).toDF("doc_id", "text")
        def ids(df: org.apache.spark.sql.DataFrame) = df
          .select("probe_id", "index_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = ids(TextDedup.dedupProbeIndex(spark, p, probe))
        assert(got === ids(TextDedup.crossCorpusPairs(probe, mega)),
          "persisted probe drifted from the in-memory spelling")
        assert(famA.map(f => (900L, f._1)).toSet.subsetOf(got),
          "probe must reach EVERY member of the chunked family")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    } finally spark.conf.unset("spark.graft.dedupChunkMembers")
  }

  test("PROPERTY: dedup index lifecycle under random increments == one-shot build") {
    import org.scalacheck.Gen
    val pool = docs.select("doc_id", "text").unionByName(Seq(
      (6L, base + " tomorrow"),
      (7L, base + " today"), // third copy of the 1/4 exact-dup family
      (8L, "eight unique tokens appear here without repeats at all now"))
      .toDF("doc_id", "text"))
    val poolIds = (1L to 8L).toVector
    val probe = Seq((10L, base + " tonight"),
      (11L, "nothing remotely similar lives in this probe sentence"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("probe_id", "index_id", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2)).toSeq
    val oneDir = java.nio.file.Files.createTempDirectory("graft-prop-one")
    val want = try {
      TextDedup.writeDedupIndex(pool, oneDir.toString)
      rows(TextDedup.dedupProbeIndex(spark, oneDir.toString, probe))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(oneDir.toFile)
    assert(want.nonEmpty, "one-shot probe found nothing — property untested")
    // each doc lands in one of 4 increments (some possibly EMPTY);
    // compaction interleaves at random positions — every trajectory
    // must probe identically to the one-shot build
    val gen = Gen.zip(Gen.listOfN(poolIds.size, Gen.choose(0, 3)),
      Gen.listOfN(4, Gen.oneOf(true, false)))
    samples(gen, 10).foreach { case (assign, compacts) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-prop-life")
      try {
        val p = dir.toString
        def inc(k: Int) = {
          val ids = poolIds.zip(assign).filter(_._2 == k).map(_._1)
          if (ids.isEmpty) pool.filter(lit(false))
          else pool.filter(col("doc_id").isin(ids: _*))
        }
        TextDedup.writeDedupIndex(inc(0), p)
        (1 to 3).foreach { k =>
          TextDedup.appendDedupIndex(spark, p, inc(k))
          if (compacts(k)) TextDedup.compactDedupIndex(spark, p)
        }
        if (compacts(0)) TextDedup.compactDedupIndex(spark, p)
        assert(rows(TextDedup.dedupProbeIndex(spark, p, probe)) === want,
          s"lifecycle (assign=$assign compacts=$compacts) drifted")
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("curate config defaults reproduce curateV2 exactly") {
    import graft.operators.Curate
    val emb = Seq((2L, Array(3f, 4f), 0)).toDF("vec_id", "embedding", "label")
    // column order differs between the two (pii joins at different
    // stages), so compare on an explicit projection
    val cols = Seq("doc_id", "n_tokens", "quality_score", "emb_norm",
      "n_chars_redacted")
    val cfg = Curate.curateConfigured(docs, emb, Curate.CurateConfig())
      .select(cols.head, cols.tail: _*).orderBy("doc_id").collect().toSeq
    val v2 = Curate.curateV2(docs, emb)
      .select(cols.head, cols.tail: _*).orderBy("doc_id").collect().toSeq
    assert(cfg === v2)
  }

  test("simhash: identical texts agree; near-dups are hamming-close; unrelated are not") {
    val sh = docs.select(col("doc_id"),
      transform(graft.functions.tokens(col("text")), t => graft.functions.md5Bits16(t)).as("h"))
      .select(col("doc_id"), TextDedup.simhashFromHashes(col("h")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= 4)
    assert(hamming(sh(1L), sh(3L)) > 4)
  }

  test("simhash pairs match the brute-force hamming oracle exactly") {
    // 4 bands over 16 bits with radius 3: pigeonhole leaves at least one
    // intact band for every true pair, so the banded result must EQUAL
    // the all-pairs answer — recall 1.0 by construction, not sampling
    val sims = docs.select(col("doc_id"),
        call_function("simhash16", col("text")))
      .as[(Long, Long)].collect().sortBy(_._1)
    val expected = (for {
      i <- sims.indices; j <- (i + 1) until sims.length
      h = java.lang.Long.bitCount(sims(i)._2 ^ sims(j)._2)
      if h <= TextDedup.SimhashMaxDist
    } yield (sims(i)._1, sims(j)._1, h)).toSet
    assert(expected.nonEmpty, "fixture must contain at least one close pair")
    val got = TextDedup.simhashPairs(docs)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === expected)
  }

  test("wide simhash pairs match the brute-force hamming oracle exactly") {
    // same pigeonhole construction at 60 bits / 4x15-bit bands: the
    // banded result equals the all-pairs answer at radius 3, while the
    // bucket space is 2048x larger than the 16-bit fingerprint's
    val sims = docs.select(col("doc_id"),
        call_function("simhash60", col("text")))
      .as[(Long, Long)].collect().sortBy(_._1)
    val expected = (for {
      i <- sims.indices; j <- (i + 1) until sims.length
      h = java.lang.Long.bitCount(sims(i)._2 ^ sims(j)._2)
      if h <= TextDedup.SimhashMaxDist
    } yield (sims(i)._1, sims(j)._1, h)).toSet
    val got = TextDedup.simhashPairs60(docs)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === expected)
    // the exact dup must survive at any width (hamming 0)
    assert(got.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0))
  }

  test("hot-bucket guard: a planted identical-doc clique stays linear in candidates") {
    // 1000 byte-identical docs (the boilerplate/empty-text cluster that
    // shares EVERY band signature — the classic degenerate LSH bucket)
    // plus the known near-dup pair and one unrelated doc. Unguarded,
    // the clique puts 1000 rows in each of its 4 band buckets and the
    // self-join emits ~2M candidate rows from those keys alone; with
    // the exact collapse it contributes ONE set representative.
    val clique = (101L to 1100L).map(i =>
      (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed " +
        "do eiusmod tempor incididunt ut labore et dolore magna aliqua", "web"))
    val rest = Seq(
      (2001L, base + " today", "web"),
      (2002L, base + " yesterday", "web"), // near-dup of 2001
      (2003L, "completely different text about maritime law and cargo here", "web"))
    val planted = (clique ++ rest).toDF("doc_id", "text", "source")
    val (members, setReps) = TextDedup.collapseExact(planted)
    assert(members.count() === 1003L)
    assert(setReps.count() === 4L, "1 clique set + 3 distinct sets")
    // layer (a): rep-level candidate volume is the number of GENUINE
    // cross-set collisions — constant here, not the clique's d²/2
    val cands = TextDedup.repCandidates(setReps, TextDedup.MaxBandBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.toSet === Set((2001L, 2002L)),
      s"rep candidates must be exactly the planted near-dup, got ${cands.toSeq}")
    // the OUTPUT still honors the pair-list contract exactly: every
    // clique pair (jaccard 1.0), the near-dup, nothing else — i.e. the
    // brute-force answer
    val pairs = TextDedup.minhashPairs(planted)
      .as[(Long, Long, Double)].collect()
    val cliquePairs = pairs.filter(p => p._1 <= 1100L && p._2 <= 1100L)
    assert(cliquePairs.length === 1000 * 999 / 2)
    assert(cliquePairs.forall(_._3 === 1.0))
    assert(pairs.length === cliquePairs.length + 1)
    assert(pairs.exists(p => p._1 == 2001L && p._2 == 2002L))
    assert(!pairs.exists(p => p._1 == 2003L || p._2 == 2003L))
    // clusters over the guarded pairs: clique collapses to min-id 101,
    // the near-dup pair to 2001 — same as unguarded clustering
    val labels = TextDedup.withDedupClusters(TextDedup.minhashPairs(planted)) {
      l => l.as[(Long, Long)].collect().toMap
    }
    assert((101L to 1100L).forall(labels(_) == 101L))
    assert(labels(2001L) === 2001L && labels(2002L) === 2001L)
    // layer (b): a cap of 0 drops every bucket — cross-set recall goes
    // to zero (the near-dup is lost, and lshBucketAudit accounts the
    // cut), but intra-set pairs CANNOT be lost: exact duplicates never
    // ride the banding at all
    val capped = TextDedup.minhashPairsAt(planted, cap = 0)
      .as[(Long, Long, Double)].collect()
    assert(capped.length === 1000 * 999 / 2)
    assert(!capped.exists(p => p._1 == 2001L && p._2 == 2002L))
    val audit = TextDedup.lshBucketAudit(planted, cap = 0)
      .orderBy(col("band")).collect()
    assert(audit.length === TextDedup.Bands)
    assert(audit.forall(r => r.getLong(1) === r.getLong(3)),
      "at cap 0 every bucket is a capped bucket")
    assert(audit.forall(r => r.getLong(4) > 0L), "cut mass must be accounted")
  }

  test("hot-bucket guard: a degenerate STANDING family probes at one index row") {
    // the production case the cross-corpus guard exists for: a 500-doc
    // boilerplate family in the standing index, re-collided by every
    // crawl increment. The persisted index must carry ONE band row per
    // band for the family, and the probe must still recover the full
    // membership in its output.
    val family = (101L to 600L).map(i =>
      (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed " +
        "do eiusmod tempor incididunt ut labore et dolore magna aliqua", "web"))
    val standing = (family ++ Seq(
      (601L, base + " standing", "web"),
      (602L, "completely different text about maritime law and cargo here", "web")))
      .toDF("doc_id", "text", "source")
    val probe = Seq(
      (9001L, family.head._2, "web"),          // exact dup of the family
      (9002L, base + " standing", "web"),      // exact dup of 601
      (9003L, "unrelated probe about volcanic geology and basalt columns", "web"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-xidx").toString
    TextDedup.writeDedupIndex(standing, dir)
    val bands = TextDedup.dedupIndexBands(spark, dir)
    assert(bands.count() === 3L * TextDedup.Bands,
      "persisted bands must be rep-level: 3 distinct sets x 4 bands")
    val got = TextDedup.dedupProbeIndex(spark, dir, probe)
      .select($"probe_id", $"index_id").as[(Long, Long)].collect().toSet
    val wantFamily = (101L to 600L).map((9001L, _)).toSet
    assert(got.filter(_._1 == 9001L) === wantFamily,
      "probe of the family must pair with EVERY member through the membership array")
    assert(got.filter(_._1 == 9002L) === Set((9002L, 601L)))
    assert(!got.exists(_._1 == 9003L))
    // in-memory form agrees with the persisted probe
    val mem = TextDedup.crossCorpusPairs(probe, standing)
      .select($"probe_id", $"index_id").as[(Long, Long)].collect().toSet
    assert(mem === got)
  }

  test("hot-bucket guard: the simhash clique collapses to one fingerprint rep") {
    // same degenerate cluster through the wide-simhash path: identical
    // texts → identical fingerprints → one rep in every bucket; output
    // still the full clique (hamming 0) plus the genuine near-dup
    val clique = (101L to 600L).map(i => (i, base + " clique", "web"))
    val rest = Seq((2001L, base + " today", "web"),
      (2002L, base + " yesterday", "web"))
    val planted = (clique ++ rest).toDF("doc_id", "text", "source")
    val got = TextDedup.simhashPairs60(planted)
      .as[(Long, Long, Int)].collect()
    val cliquePairs = got.filter(p => p._1 <= 600L && p._2 <= 600L)
    assert(cliquePairs.length === 500 * 499 / 2)
    assert(cliquePairs.forall(_._3 === 0))
    // cross pairs: clique text vs 2001/2002 are themselves near-dups of
    // base — whatever the brute-force answer is, the guarded path must
    // match it exactly
    val sims = planted.select(col("doc_id"),
        call_function("simhash60", col("text")))
      .as[(Long, Long)].collect().sortBy(_._1)
    val expected = (for {
      i <- sims.indices; j <- (i + 1) until sims.length
      h = java.lang.Long.bitCount(sims(i)._2 ^ sims(j)._2)
      if h <= TextDedup.SimhashMaxDist
    } yield (sims(i)._1, sims(j)._1, h)).toSet
    assert(got.toSet === expected)
  }

  test("simhash pairs rejects a radius the banding cannot guarantee") {
    // pigeonhole recall 1.0 holds only for maxDist <= bands-1; larger
    // radii would silently return incomplete results
    val e = intercept[IllegalArgumentException] {
      TextDedup.simhashPairs(docs, maxDist = TextDedup.SimhashBands)
    }
    assert(e.getMessage.contains("pigeonhole"))
  }

  test("ngram jaccard only compares within the blocking group") {
    // docs 1 and 4 are identical but in different sources -> never compared
    val res = TextDedup.ngramJaccardPairs(docs, 0.5)
    val pairs = res.pairs
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
    assert(res.droppedDocs.value === 0L) // no group hit the cap
  }

  test("ngram jaccard caps a pathological group and counts the drops") {
    // 50 identical docs in one source: uncapped this is C(50,2)=1225
    // pairs; the cap keeps the 10 smallest ids -> C(10,2)=45, and the
    // 40 dropped docs are observable through the accumulator
    val big = Seq.tabulate(50)(i => (i.toLong, base, "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val res = TextDedup.ngramJaccardPairs(big, 0.5, maxGroupSize = 10)
    val pairs = res.pairs
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.length === 45)
    assert(pairs.flatMap(p => Seq(p._1, p._2)).forall(_ < 10L),
      "pairs must come only from the kept (smallest-id) docs")
    assert(res.droppedDocs.value === 40L)
  }

  test("trigram language id separates close languages the stopword heuristic cannot") {
    // STOPWORD-FREE sentences: every stopword list scores 0, so the
    // hit heuristic degenerates to its tie-break ('de' for all) — but
    // the character transitions still identify each language
    val labeled = Seq(
      (1L, "kleine beispiele wurden zwischen mehreren saetzen geschrieben", "de"),
      (2L, "plusieurs exemples simples sont souvent choisis ensemble", "fr"),
      (3L, "los muchachos escogieron ejemplos sencillos y los jueces hablaron mucho", "es"),
      (4L, "the simple examples were often chosen with their friends", "en"))
      .toDF("doc_id", "text", "lang")
    val ngram = TextStats.langIdNgram(labeled).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = Map(1L -> "de", 2L -> "fr", 3L -> "es", 4L -> "en")
    want.foreach { case (id, l) =>
      assert(ngram(id) === l, s"doc $id: trigram predicted ${ngram(id)}")
    }
    val stopword = labeled
      .select(col("doc_id"), TextStats.langId(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val stopRight = want.count { case (id, l) => stopword(id) == l }
    assert(stopRight < want.size,
      "fixture no longer separates the heuristics — rebuild it")
    // degenerate inputs: no tokens / no in-profile grams -> "und";
    // a CODE-MIXED doc (fr + en halves) scores its two languages
    // within the confidence margin and must abstain too — the margin
    // is the only path to "und" for a doc with real coverage
    val degenerate = Seq((10L, ""), (11L, "zzzz qqqq"),
      (12L, "un petit exemple simple a small simple example"))
      .toDF("doc_id", "text")
    val dp = TextStats.langIdNgram(degenerate).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dp(10L) === "und")
    assert(dp(12L) === "und", "mixed-language doc must abstain")
  }

  test("language id picks the stopword profile; quality guards zero division") {
    val out = docs.select(col("doc_id"), col("lang"),
        TextStats.langId(col("text")).as("p"))
      .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    assert(out(1L) === "en" && out(5L) === "de")
    val empty = Seq((9L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val q = TextStats.qualityFeatures(empty).collect().head
    assert(q.getDouble(2) === 0.0 && q.getDouble(4) === 0.0) // no NaN/err on empty
  }

  test("fingerprint is token-order sensitive (unlike the set sketches)") {
    val a = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val b = Seq((1L, "gamma beta alpha")).toDF("doc_id", "text")
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(TextStats.fingerprint(col("text"))).as[Long].head()
    assert(fp(a) !== fp(b))
  }

  test("token-budget mix fills each source's allocation exactly, boundary doc kept") {
    import graft.operators.TrainPrep
    // source A: four 10-token docs, target 25 → in hash order the fill
    // keeps docs while the PRIOR total is < 25: 10, 20 both start
    // under 25 (kept), the third starts at 20 < 25 (kept, completes
    // the budget at 30), the fourth starts at 30 (dropped). Source B
    // is absent from the shares frame and must vanish entirely.
    def words(n: Int) = Seq.fill(n)("tok").mkString(" ")
    val docs = Seq(
      (1L, words(10), "A"), (2L, words(10), "A"),
      (3L, words(10), "A"), (4L, words(10), "A"),
      (9L, words(10), "B"))
      .toDF("doc_id", "text", "source")
    val shares = Seq(("A", 2500L)).toDF("source", "share_bp")
    val out = TrainPrep.tokenBudgetMix(docs, shares, budgetTokens = 100L)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L), "source B (no share) dropped")
    assert(out.values.forall(_._2 === 25L), "target = (100 * 2500) div 10000")
    val kept = out.filter(_._2._3).keys.toSet
    assert(kept.size === 3, s"exactly three docs fill 25 tokens, got $kept")
    val keptCum = out.filter(_._2._3).values.map(_._1).max
    assert(keptCum === 30L, "the boundary doc completes (overshoots) the budget")
    // determinism: the same call keeps the same docs
    val again = TrainPrep.tokenBudgetMix(docs, shares, 100L)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(again === kept)
    // a null-text doc costs 0 tokens and never blocks its source's fill
    val withNull = docs.unionByName(
      Seq((0L, "A")).toDF("doc_id", "source")
        .withColumn("text", lit(null).cast("string"))
        .select($"doc_id", $"text", $"source"))
    val nul = TrainPrep.tokenBudgetMix(withNull, shares, 100L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(5)))).toMap
    assert(nul(0L)._1 === 0L, "null text counts 0 tokens")
    assert(nul.filter(_._2._2).keys.count(_ > 0L) === 3,
      "the three real fills survive alongside the null doc")
  }

  test("semantic dedup drops within-cell near-dups, keeps the min id, never crosses cells") {
    // centroids are the stride ids (0 and 137): cell 0 points along
    // the x axis, cell 137 along y. Within each cell everything is
    // pairwise-similar above 0.9, so only the cell's MINIMUM id
    // survives — including the case where a planted member (id 3)
    // dominates its own CENTROID (id 137): the keep rule is pure
    // min-id dominance, centroids get no special treatment.
    val emb = Seq(
      (0L,   Seq(1.0f, 0.0f)),
      (1L,   Seq(0.99f, 0.1f)),
      (2L,   Seq(0.98f, 0.12f)),
      (137L, Seq(0.0f, 1.0f)),
      (3L,   Seq(0.1f, 0.99f)),
      (300L, Seq(0.12f, 0.98f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L, 137L, 300L), "row per vector")
    assert(out(0L) === ((0L, false)) && out(1L) === ((0L, true))
      && out(2L) === ((0L, true)), "cell 0 keeps only id 0")
    assert(out(3L) === ((137L, false)) && out(137L) === ((137L, true))
      && out(300L) === ((137L, true)), "cell 137 keeps only id 3")
    // cross-cell blindness is the paper's own recall bound: make the
    // two kept vectors nearly parallel ACROSS cells and both survive
    val cross = Seq(
      (0L,   Seq(1.0f, 0.0f)),
      (137L, Seq(0.9f, 0.436f)),   // its own cell's centroid
      (5L,   Seq(0.995f, 0.1f)))   // closer to 0 than to 137 → cell 0
      .toDF("vec_id", "embedding")
    val out2 = Similarity.semanticDedup(cross, threshold = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out2(5L)._1 === 0L && out2(5L)._2 === true,
      "5 shares cell 0 with id 0 and is dominated")
    assert(out2(137L)._2 === false,
      "137 is cosine-close to id 0 but sits in its own cell — SemDeDup " +
        "does not compare across cells (documented recall bound)")
  }

  test("mmr re-rank breaks up the redundant pair a plain top-k would emit") {
    // A1/A2 are near-identical off-axis twins; B mirrors A's off-axis
    // component. Relevance top-3 = A1, A2, B — but MMR's redundancy
    // penalty (sim(A2, A1) ≈ 1 vs sim(B, A1) ≈ 0.72) must promote B to
    // rank 2 and demote the twin to rank 3.
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),       // the query
      (1L, Array(1f, 0.40f, 0f, 0f)),    // A1: rel ≈ .929 (rank 1)
      (2L, Array(1f, 0.41f, 0f, 0f)),    // A2: rel ≈ .925, twin of A1
      (3L, Array(1f, -0.41f, 0f, 0f)),   // B : rel ≈ .925, diverse
      (4L, Array(0f, 0f, 1f, 0f)))       // filler, rel 0
      .toDF("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val got = Similarity.mmrRerank(emb, queries, poolK = 4, outK = 3)
      .orderBy("mmr_rank").as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._2).toSeq === Seq(1L, 3L, 2L),
      "diversity penalty did not promote the diverse doc")
    // a pure relevance ranking would have kept the twins adjacent
    val rel = Similarity.topK(emb, queries, 3)
      .orderBy("rk").as[(Long, Long, Long, Double)].collect()
    assert(rel.map(_._2).toSeq === Seq(1L, 2L, 3L))
    // pool smaller than outK: emit what exists, no phantom rows
    val short = Similarity.mmrRerank(emb.filter(col("vec_id") <= 1L),
      queries, poolK = 4, outK = 3).collect()
    assert(short.length === 1)
  }

  test("centroid drift: aligned halves read 1.0, orthogonal 0.0, one-sided NULL") {
    val emb = Seq(
      (0L, Array(2f, 0f), 0), (1L, Array(4f, 0f), 0), // same direction
      (2L, Array(1f, 0f), 1), (3L, Array(0f, 1f), 1), // orthogonal halves
      (4L, Array(1f, 1f), 2))                          // even half only
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidDrift(emb).orderBy("label").collect()
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 1L)
    assert(out(0).getDouble(3) === 1.0, "scale must not register as drift")
    assert(out(1).getDouble(3) === 0.0)
    assert(out(2).isNullAt(3), "a one-sided label must page as NULL, not 0")
  }

  test("contrastive mining: hardest same-label positive, hardest cross-label negatives") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 7),     // the anchor (label 7)
      (1L, Array(1f, 0.1f, 0f, 0f), 7),   // close positive
      (2L, Array(0.2f, 1f, 0f, 0f), 7),   // far positive — not emitted
      (3L, Array(1f, 0.05f, 0f, 0f), 9),  // hardest negative (closest impostor)
      (4L, Array(0f, 1f, 0f, 0f), 9),     // easy negative
      (5L, Array(0f, 0f, 1f, 0f), 8))     // easy negative
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.contrastivePairs(emb, negK = 2)
      .orderBy("role", "rk")
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    // negatives: impostor 3 first, then the best of the easy ones;
    // positive: exactly ONE row, the confusable same-label neighbor
    assert(out.map(r => (r._2, r._3, r._4)) ===
      Seq(("negative", 1L, 3L), ("negative", 2L, 4L), ("positive", 1L, 1L)))
    // an anchor whose label is unique emits negatives but NO positive
    val lone = Similarity.contrastivePairs(
      emb.withColumn("label",
        when(col("vec_id") === 0L, lit(42)).otherwise(col("label"))),
      negK = 2).collect()
    assert(lone.forall(_.getString(1) === "negative") && lone.length === 2)
  }

  test("cosine top-k: self-similar vector ranks first with cosine 1.0") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(1f, 0f, 0f), 0),   // identical to query 0
      (2L, Array(0f, 1f, 0f), 1),
      (3L, Array(0.9f, 0.1f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.topK(emb, Similarity.queryVectors(emb), 2)
      .orderBy("rk").as[(Long, Long, Long, Double)].collect()
    assert(top(0)._2 === 1L && top(0)._4 === 1.0)
    assert(top(1)._2 === 3L)
  }

  test("stripSpans cuts the shared passage and keeps unique prose verbatim") {
    val boiler = "subscribe to our newsletter for updates every single day " +
      "and follow the links below for more content like this one"  // 20 toks
    val docs = Seq(
      (1L, "alpha beta gamma " + boiler + " delta epsilon", "en", "s1"),
      (2L, boiler + " zeta eta", "en", "s1"),
      (3L, "totally unique text with no repeated passage inside it at all",
        "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextDedup.stripSpans(docs)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // the boilerplate tokens vanish from both carriers
    assert(!out(1L)._1.contains("newsletter") && !out(2L)._1.contains("newsletter"))
    // unique prose survives in order
    assert(out(1L)._1.startsWith("alpha beta gamma"))
    assert(out(1L)._1.endsWith("delta epsilon"))
    assert(out(2L)._1 === "zeta eta")
    // the span-free doc passes through verbatim, counts conserved
    assert(out(3L)._1 ===
      "totally unique text with no repeated passage inside it at all")
    assert(out(3L)._2 === out(3L)._3)
    out.values.foreach { case (_, before, after) => assert(after <= before) }
  }

  test("paragraph dedup keeps exactly one copy of a shared chunk, first wins") {
    // chunks engineered to align with the ParaWidth=12 tumbling grid
    val X = (1 to 12).map("x" + _).mkString(" ")
    val Y = (1 to 12).map("y" + _).mkString(" ")
    val Z = (1 to 12).map("z" + _).mkString(" ")
    val W = (1 to 12).map("w" + _).mkString(" ")
    val fix = Seq(
      (1L, s"$X $Y"),                 // owns X globally (lowest doc_id)
      (2L, s"$X $Z"),                 // cross-doc copy of X — cut
      (3L, s"$W $W"),                 // within-doc repeat — second cut
      (4L, "tail chunk under width"), // partial chunk, unique — verbatim
      (5L, ""))                       // chunk-free pass-through
      .toDF("doc_id", "text")
    val out = TextDedup.paragraphDedup(fix).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === ((s"$X $Y", 2L, 2L)))
    assert(out(2L) === ((Z, 2L, 1L)))           // keep-ONE: X survives in 1
    assert(out(3L) === ((W, 2L, 1L)))
    assert(out(4L) === (("tail chunk under width", 1L, 1L)))
    assert(out(5L) === (("", 0L, 0L)))
    // the deduplicated corpus contains each distinct chunk exactly once
    val keptChunks = out.values.toSeq.map(_._1).filter(_.nonEmpty)
    assert(keptChunks.flatMap(_.split(" ")).distinct.size ===
      keptChunks.flatMap(_.split(" ")).size)
  }

  test("paragraph incremental admission == batch keep-one on the append layout") {
    // snapshot-then-append: every standing doc_id precedes every
    // increment doc_id, so admission against the standing set must equal
    // the one-shot batch dedup over the union, sliced to the increment
    val A = (1 to 12).map("a" + _).mkString(" ")
    val B = (1 to 12).map("b" + _).mkString(" ")
    val C = (1 to 12).map("c" + _).mkString(" ")
    val E = (1 to 12).map("e" + _).mkString(" ")
    val F = (1 to 12).map("f" + _).mkString(" ")
    val standing = Seq((1L, s"$A $B"), (2L, s"$A $C"), (3L, "short tail"))
      .toDF("doc_id", "text")
    val increment = Seq((11L, s"$C $E"), (12L, s"$E $F"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val inc = rows(TextDedup.paragraphDedupIncrement(increment, standing))
    val full = rows(TextDedup.paragraphDedup(standing.unionByName(increment))
      .filter(col("doc_id") >= 11L))
    assert(inc === full)
    // and the planted expectations hold: C is standing-owned (cut), E
    // kept at its increment-first doc 11, F unique
    val m = inc.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(m(11L) === ((E, 2L, 1L)))
    assert(m(12L) === ((F, 2L, 1L)))
  }

  test("winnowing: a shared 12-token run always shares a fingerprint; disjoint docs never") {
    // t = w + k − 1 = 12 is the paper's guarantee threshold — any run
    // of that length shared by two docs must share a SELECTED print
    val shared = (1 to 12).map("s" + _).mkString(" ")
    val docs = Seq(
      (1L, (1 to 20).map("a" + _).mkString(" ") + " " + shared + " " +
        (1 to 20).map("b" + _).mkString(" ")),
      (2L, (1 to 20).map("c" + _).mkString(" ") + " " + shared + " " +
        (1 to 20).map("d" + _).mkString(" ")),
      (3L, (1 to 40).map("z" + _).mkString(" ")))   // disjoint vocabulary
      .toDF("doc_id", "text")
    val by = TextDedup.winnowFingerprints(docs).collect()
      .map(r => (r.getLong(0), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((by(1L) intersect by(2L)).nonEmpty, "guarantee violated")
    assert((by(1L) intersect by(3L)).isEmpty)
    assert((by(2L) intersect by(3L)).isEmpty)
  }

  test("winnowing: short docs winnow their truncated window; sub-k docs select nothing") {
    val docs = Seq(
      (1L, "just six tokens in this doc"), // 2 grams < w → ONE window
      (2L, "four tokens only here"),       // < k tokens → no grams
      (3L, "")).toDF("doc_id", "text")
    val by = TextDedup.winnowFingerprints(docs).collect().groupBy(_.getLong(0))
    assert(by(1L).length === 1)
    assert(!by.contains(2L) && !by.contains(3L))
  }

  test("winnow pairs: ubiquitous fingerprints are excluded; real overlap survives") {
    val clique = (1 to 40).map("q" + _).mkString(" ")
    val passage = (1 to 30).map("pp" + _).mkString(" ")
    val docs = Seq(
      // exact-dup clique: identical fingerprint sets in 4 > cap docs,
      // so every clique fingerprint is boilerplate-excluded
      (1L, clique), (2L, clique), (3L, clique), (4L, clique),
      // genuine overlap at different offsets with distinct contexts
      (5L, (1 to 10).map("u" + _).mkString(" ") + " " + passage),
      (6L, passage + " " + (1 to 10).map("v" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = TextDedup.winnowPairs(docs, cap = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((5L, 6L)))
  }

  test("winnow probe pairs index docs only; standing ubiquity gates the cap") {
    val passage = (1 to 30).map("pp" + _).mkString(" ")
    val secret = (1 to 30).map("ss" + _).mkString(" ")
    val boiler = (1 to 40).map("qq" + _).mkString(" ")
    val standing = Seq(
      (1L, (1 to 10).map("a" + _).mkString(" ") + " " + passage),
      (2L, boiler), (3L, boiler), (4L, boiler), (5L, boiler),
      (6L, (1 to 40).map("z" + _).mkString(" ")))
      .toDF("doc_id", "text")
    val probe = Seq(
      // shares `passage` with standing doc 1 AND `secret` with probe 12
      (11L, passage + " " + secret),
      (12L, secret + " " + (1 to 10).map("v" + _).mkString(" ")),
      // a verbatim copy of the standing boilerplate clique's text: its
      // prints live in 4 > cap standing docs — excluded, no pairs
      (13L, boiler)).toDF("doc_id", "text")
    val pairs = TextDedup.winnowProbePairs(probe, standing, cap = 3)
      .select("probe_id", "index_id").as[(Long, Long)].collect().toSet
    // probe-to-probe overlap (11, 12 via `secret`) must NOT pair —
    // only the standing index answers
    assert(pairs === Set((11L, 1L)))
    // the LANDED index answers identically (persistence-invariance)
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow-idx")
    try {
      TextDedup.writeWinnowIndex(standing, s"$dir/idx")
      val persisted = TextDedup
        .winnowProbeIndex(spark, s"$dir/idx", probe, cap = 3)
        .select("probe_id", "index_id").as[(Long, Long)].collect().toSet
      assert(persisted === pairs)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("winnow index delete: masks immediately and survivor-exactly; replays safe; rebuild applies and clears") {
    val passage = (1 to 30).map("pp" + _).mkString(" ")
    val boiler = (1 to 40).map("qq" + _).mkString(" ")
    val standing = Seq(
      (1L, (1 to 10).map("a" + _).mkString(" ") + " " + passage),
      (2L, passage + " " + (1 to 10).map("b" + _).mkString(" ")),
      // a 4-doc clique ABOVE cap=3: deleting one member must bring
      // the shared prints back under the cap and SURFACE the
      // remaining pairs — the survivor-exact mask, not just row drops
      (3L, boiler), (4L, boiler), (5L, boiler), (6L, boiler))
      .toDF("doc_id", "text")
    val probe = Seq((11L, passage), (13L, boiler)).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-winnow-del")
    val p = s"$dir/idx"
    try {
      TextDedup.writeWinnowIndex(standing.filter(col("doc_id") <= 3L), p)
      TextDedup.appendWinnowIndex(p, standing.filter(col("doc_id") > 3L))
      def pairs() = TextDedup.winnowProbeIndex(spark, p, probe, cap = 3)
        .select("probe_id", "index_id").as[(Long, Long)].collect().toSet
      assert(pairs() === Set((11L, 1L), (11L, 2L)),
        "pre-delete: boiler clique capped out, passage pairs only")
      // takedown doc 1 AND clique member 3: doc 1's pair vanishes,
      // and the clique drops to 3 ≤ cap — probe 13's pairs SURFACE
      TextDedup.deleteWinnowIndex(p, Seq(1L, 3L).toDF("doc_id"))
      val after = pairs()
      assert(after === Set((11L, 2L), (13L, 4L), (13L, 5L), (13L, 6L)),
        s"post-delete must equal a fresh build over survivors, got $after")
      // replayed delete: identity-addressed no-op
      TextDedup.deleteWinnowIndex(p, Seq(1L, 3L).toDF("doc_id"))
      assert(pairs() === after)
      // APPEND of a deleted doc: its prints land as a fresh identity
      // batch; the standing mask must keep hiding them
      TextDedup.appendWinnowIndex(p, standing.filter(col("doc_id") === 3L))
      assert(pairs() === after,
        "a replayed append must not resurrect a deleted doc")
      // rebuild over survivors APPLIES: tombstones cleared, answers keep
      TextDedup.writeWinnowIndex(
        standing.filter(col("doc_id") =!= 1L && col("doc_id") =!= 3L), p)
      assert(!new java.io.File(s"$p/deletes").exists(),
        "rebuild must clear the applied tombstones")
      assert(pairs() === after)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }

  test("winnow attribution picks the strongest standing match, ties to lowest id") {
    val x = (1 to 30).map("x" + _).mkString(" ")
    val standing = Seq(
      (1L, x), (2L, x),  // identical pair — the probe matches both equally
      (3L, (1 to 30).map("o" + _).mkString(" "))).toDF("doc_id", "text")
    val probe = Seq(
      (11L, x + " some tail tokens"),
      (12L, (1 to 30).map("n" + _).mkString(" "))) // matches nothing
      .toDF("doc_id", "text")
    val out = TextDedup.winnowAttribution(probe, standing).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(out.length === 1, "match-less probes must emit nothing")
    val (idx, shared, prints, cov) = out.head._2
    assert(out.head._1 === 11L && idx === 1L, "tie must break to the lowest id")
    assert(shared >= 2 && shared <= prints)
    assert(cov > 0.0 && cov <= 1.0 && cov === shared.toDouble / prints)
  }

  test("boilerplate share: exact-dup prints count as ubiquitous, unique docs score 0") {
    val dup = (1 to 40).map("d" + _).mkString(" ")
    val docs = Seq((1L, dup), (2L, dup),
      (3L, (1 to 40).map("u" + _).mkString(" ")))
      .toDF("doc_id", "text")
    // cap=1: any print selected by >= 2 docs is ubiquitous — for the
    // identical pair that is EVERY print, for the unique doc none
    val out = TextDedup.winnowBoilerplateShare(docs, cap = 1).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    Seq(1L, 2L).foreach { id =>
      assert(out(id)._1 > 0 && out(id)._1 === out(id)._2, s"doc $id")
      assert(out(id)._3 === 1.0)
    }
    assert(out(3L)._2 === 0L && out(3L)._3 === 0.0)
  }

  test("memo'd winnow prints serve every harness shape identically to recomputation") {
    val dir = sf("sf0.001")
    val corpus = graft.tables.Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    val m = graft.operators.TextDedup.IncrementMod
    val probe = corpus.filter(col("doc_id") % m === 0)
    val standing = corpus.filter(col("doc_id") % m =!= 0)
    // the landed frame IS the selection pass
    val memo = TextDedup.winnowPrints(spark, dir)(corpus)
    assert(rows(memo) === rows(TextDedup.winnowFingerprints(corpus)),
      "memo'd prints drifted from recomputation")
    assert(rows(memo).nonEmpty, "fixture selected no prints — untested")
    // every memo-routed harness entry == its direct two-corpus spelling
    assert(rows(TextDedup.qWinnowOverlap(spark, dir)) ===
      rows(TextDedup.winnowPairs(corpus)), "overlap via memo drifted")
    assert(rows(TextDedup.qWinnowProbe(spark, dir)) ===
      rows(TextDedup.winnowProbePairs(probe, standing)),
      "probe via memo drifted")
    assert(rows(TextDedup.qWinnowAttribution(spark, dir)) ===
      rows(TextDedup.winnowAttribution(probe, standing)),
      "attribution via memo drifted")
    assert(rows(TextDedup.qWinnowBoiler(spark, dir)) ===
      rows(TextDedup.winnowBoilerplateShare(corpus,
        cap = TextDedup.BoilerShareCap)), "boiler via memo drifted")
    assert(rows(TextDedup.qWinnowPersisted(spark, dir)) ===
      rows(TextDedup.winnowProbePairs(probe, standing)),
      "persisted-index probe via memo drifted")
  }

  test("vectorAudit flags zero norms, non-finite components, mixed dims") {
    val emb = Seq(
      (1L, Array(3f, 4f), 0),
      (2L, Array(0f, 0f), 0),                 // zero norm
      (3L, Array(Float.NaN, 1f), 0),          // non-finite
      (4L, Array(1f, 2f, 2f), 0))             // width drift
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.vectorAudit(emb).collect().head
    assert(r.getLong(0) === 4L)
    assert(r.getLong(1) === 2L, "two distinct widths must be flagged")
    assert((r.getLong(2), r.getLong(3)) === ((2L, 3L)))
    assert(r.getLong(4) === 1L, "the zero vector")
    assert(r.getLong(5) === 1L, "the NaN vector")
    // norm range excludes the non-finite vector: max is the 3-4-5
    assert(r.getDouble(6) === 0.0 && r.getDouble(7) === 5.0)
  }

  test("quantRecall is perfect when vectors sit exactly on the int8 grid") {
    // every component in {-1, 0, 1} with max |x| = 1: the code is ±127
    // or 0 exactly, reconstruction is lossless, rankings identical
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 1f), 0), // the query (isQueryId: id 0)
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 1f), 0),
      (3L, Array(1f, 1f, 0f, 1f), 0),
      (4L, Array(0f, 0f, 1f, -1f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.quantRecall(emb, k = 3).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 3L && out.head.getDouble(2) === 1.0)
  }

  // 64-dim all-positive base vector with the given dims (1-based) sign-flipped
  private def flipped(dims: Int*): Array[Float] =
    (1 to 64).map(i => if (dims.contains(i)) -1f else 1f).toArray

  test("banded LSH recovers a near-dup across a band boundary") {
    // vec 1 flips only dim 1: band 0's signature differs from vec 0's, so
    // the single-bucket predecessor would never pair them — bands 1-7
    // still match and recall the pair (cosine 62/64 ≈ 0.97).
    // vec 2 flips one dim in EVERY band: no band matches vec 0, so the
    // (0,2) pair is not a candidate even though its cosine (0.75) clears
    // the threshold — the blocking step, not the verify, excludes it.
    // (1,2) share band 0 (both flip dim 1 there) and verify at 50/64.
    val emb = Seq(
      (0L, flipped(), 0),
      (1L, flipped(1), 0),
      (2L, flipped(1, 9, 17, 25, 33, 41, 49, 57), 0))
      .toDF("vec_id", "embedding", "label")
    val pairs = Similarity.embedNearDup(emb, 0.5)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (1L, 2L)))
  }

  test("ann candidates come only from shared band signatures") {
    val emb = Seq(
      (0L, flipped(), 0),                            // the query (id 0)
      (1L, flipped(1), 0),                           // bands 1-7 match
      (2L, flipped(1, 9, 17, 25, 33, 41, 49, 57), 0)) // no band matches
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.annTopK(emb, 5)
      .filter($"query_id" === 0L).select("vec_id").as[Long].collect()
    assert(out.toSet === Set(1L))
  }

  test("labelCentroids sums exact quantized components per (label, dim)") {
    val emb = Seq(
      (1L, Array(0.25f, -0.5f), 0),
      (2L, Array(0.75f, 0.5f), 0),
      (3L, Array(1.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(emb).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out === Map(
      (0, 0) -> ((2L, 1000000L, 500000.0)),
      (0, 1) -> ((2L, 0L, 0.0)),
      (1, 0) -> ((1L, 1000000L, 1000000.0)),
      (1, 1) -> ((1L, 0L, 0.0))))
  }

  test("dimVariance: exact integer moments give the population variance") {
    // dim 0 values {0.25, 0.75} -> q {250000, 750000}: mean 500000,
    // var = ((2*(250000²+750000²)) - 1000000²)/4 = 62500000000
    // dim 1 constant 0.5 -> variance exactly 0
    val emb = Seq(
      (1L, Array(0.25f, 0.5f), 0),
      (2L, Array(0.75f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.dimVariance(emb).orderBy("dim").collect()
    assert(out(0).getLong(1) === 2L)
    assert(out(0).getDouble(2) === 500000.0)
    assert(out(0).getDouble(3) === 6.25e10)
    assert(out(1).getDouble(3) === 0.0)
  }

  test("annRecall charges the ANN for the invisible neighbor, credits the found ones") {
    // exact top-2 for query 0: vec 1 (cosine 62/64) and vec 2 (48/64);
    // the ANN sees only vec 1 (vec 2 shares no intact band with 0), so
    // recall@2 = 1/2 — the metric detects exactly the blocking loss the
    // candidates test above pins
    val emb = Seq(
      (0L, flipped(), 0),
      (1L, flipped(1), 0),
      (2L, flipped(1, 9, 17, 25, 33, 41, 49, 57), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.annRecall(emb, k = 2).collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === 0L)
    assert(r.head.getLong(1) === 1L)
    assert(r.head.getDouble(2) === 0.5)
  }

  test("embedding cross-pairs pair the probe against the index only") {
    // probe 0 near-dups index 1; index vectors 3 and 4 are identical to
    // each other but both index-side, so they must never pair
    val emb = Seq(
      (0L, flipped(1), 0),
      (1L, flipped(), 0),
      (2L, flipped(2, 10, 18, 26, 34, 42, 50, 58), 0),
      (3L, flipped(64), 0),
      (4L, flipped(64), 0))
      .toDF("vec_id", "embedding", "label")
    val probe = emb.filter($"vec_id" === 0L)
    val index = emb.filter($"vec_id" =!= 0L)
    val pairs = Similarity.embedCrossPairs(probe, index, 0.9)
      .select("probe_id", "index_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (0L, 3L), (0L, 4L)))
  }

  test("streaming embedding near-dup equals the batch cross-pairs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-embdup-stream")
    val emb = Seq(
      (0L, flipped(1), 0),
      (1L, flipped(), 0),
      (2L, flipped(2, 10, 18, 26, 34, 42, 50, 58), 0))
      .toDF("vec_id", "embedding", "label")
    val probe = emb.filter($"vec_id" === 0L)
    val index = emb.filter($"vec_id" =!= 0L)
    probe.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(probe.schema).parquet(s"$dir/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = Similarity.streamingEmbedNearDup(stream, index, 0.9) { (pairs, _) =>
      val rows = pairs.select("probe_id", "index_id", "cosine")
        .as[(Long, Long, Double)].collect()
      got.synchronized { got ++= rows }
    }
    try {
      assert(q.awaitTermination(120000), "streaming query did not finish in time")
      val batch = Similarity.embedCrossPairs(probe, index, 0.9)
        .select("probe_id", "index_id", "cosine")
        .as[(Long, Long, Double)].collect()
      assert(got.sortBy(p => (p._1, p._2)).toSeq ===
        batch.sortBy(p => (p._1, p._2)).toSeq)
      assert(got.map(_._2).toSet === Set(1L))
    } finally {
      q.stop()
    }
  }

  test("streaming semantic admission equals the one-shot batch gate") {
    // standing = dense id prefix (two direction clusters); probe 100
    // is an exact copy of standing 3 (same cell by determinism, cos 1
    // -> dropped), probe 101 a novel direction (kept)
    val dir = java.nio.file.Files.createTempDirectory("graft-semadm-stream")
    val standing = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0.98f, 0.2f, 0f, 0f)),
      (2L, Array(0.95f, 0.3f, 0f, 0f)), (3L, Array(0.9f, 0.43f, 0f, 0f)),
      (4L, Array(0f, 0f, 1f, 0f)), (5L, Array(0f, 0f, 0.98f, 0.2f)),
      (6L, Array(0f, 0f, 0.9f, 0.43f)), (7L, Array(0f, 0f, 0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    val probe = Seq(
      (100L, Array(0.9f, 0.43f, 0f, 0f)),
      (101L, Array(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    probe.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(probe.schema).parquet(s"$dir/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val q = Similarity.streamingSemanticAdmission(stream, standing, 0.9) {
      (adm, _) =>
        val rows = adm.select("probe_id", "cell", "dropped")
          .as[(Long, Long, Boolean)].collect()
        got.synchronized { got ++= rows }; ()
    }
    try {
      assert(q.awaitTermination(120000), "streaming query did not finish in time")
      val batch = Similarity.semanticAdmission(probe, standing, 0.9)
        .select("probe_id", "cell", "dropped")
        .as[(Long, Long, Boolean)].collect()
      assert(got.sortBy(_._1).toSeq === batch.sortBy(_._1).toSeq)
      val dropped = got.map(r => r._1 -> r._3).toMap
      assert(dropped === Map(100L -> true, 101L -> false),
        "copy must be dropped, novel direction admitted")
    } finally q.stop()
  }

  test("streaming increments probe the PERSISTED band index, same answers") {
    // the full lifecycle: land the band index once, then stream
    // increments against the read-back table — embedCrossPairs takes
    // the standing side as a plain frame, so the parquet index slots
    // straight in; answers must equal the in-memory-index stream
    val dir = java.nio.file.Files.createTempDirectory("graft-bandidx-stream")
    val emb = Seq(
      (0L, flipped(1), 0),
      (1L, flipped(), 0),
      (2L, flipped(2, 10, 18, 26, 34, 42, 50, 58), 0))
      .toDF("vec_id", "embedding", "label")
    val probe = emb.filter($"vec_id" === 0L)
    val index = emb.filter($"vec_id" =!= 0L)
    Similarity.writeBandIndex(index, dir.toString)
    probe.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(probe.schema).parquet(s"$dir/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = Similarity.bandProbeIndex(spark, dir.toString, batch, 0.9)
          .select("probe_id", "index_id", "cosine")
          .as[(Long, Long, Double)].collect()
        got.synchronized { got ++= rows }; ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      assert(q.awaitTermination(120000), "streaming query did not finish in time")
      val batch = Similarity.embedCrossPairs(probe, index, 0.9)
        .select("probe_id", "index_id", "cosine")
        .as[(Long, Long, Double)].collect()
      assert(got.sortBy(p => (p._1, p._2)).toSeq ===
        batch.sortBy(p => (p._1, p._2)).toSeq)
      assert(got.nonEmpty, "vacuous: the planted near-dup must be found")
    } finally {
      q.stop()
    }
  }

  test("multi-probe ann reaches neighbors plain ann's banding misses") {
    // vec 2 disagrees with the query by exactly one plane in EVERY band:
    // no intact band, so annTopK can't see it — each probe ring (one
    // flipped bit per band signature) contains it, so annTopKProbed can
    val emb = Seq(
      (0L, flipped(), 0),
      (1L, flipped(1), 0),
      (2L, flipped(1, 9, 17, 25, 33, 41, 49, 57), 0))
      .toDF("vec_id", "embedding", "label")
    val plain = Similarity.annTopK(emb, 5)
      .filter($"query_id" === 0L).select("vec_id").as[Long].collect().toSet
    val probed = Similarity.annTopKProbed(emb, 5)
      .filter($"query_id" === 0L).select("vec_id").as[Long].collect().toSet
    assert(plain === Set(1L))
    assert(probed === Set(1L, 2L))
  }

  test("query and centroid sets stay O(K) as the corpus grows") {
    // 30k vectors: an unbounded stride would yield 300 queries / 219
    // centroids — the caps must hold them at MaxQueries / MaxCentroids
    val emb = spark.range(0, 30000).toDF("vec_id")
      .withColumn("embedding", array(lit(1f)))
      .withColumn("label", lit(0))
    assert(Similarity.queryVectors(emb).count() === Similarity.MaxQueries)
    assert(emb.filter(Similarity.isCentroidId($"vec_id")).count()
      === Similarity.MaxCentroids)
  }

  test("auto-sized ivf cells: centroid count tracks sqrt(N); occupancy stays bounded at 10x") {
    // the fixed-stride quantizer caps at MaxCentroids, so its max-cell
    // occupancy grows linearly with N; the auto-sized path must grow
    // the CELL COUNT instead, keeping occupancy ~sqrt(N)
    def mkEmb(n: Int) = {
      val rnd = new scala.util.Random(7)
      (0 until n).map(i =>
          (i.toLong, Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
        .toDF("vec_id", "embedding")
    }
    def stats(n: Int) = {
      val occ = Similarity.ivfCellsAuto(mkEmb(n))
        .groupBy("cell").count().collect().map(_.getLong(1))
      (occ.length.toLong, occ.max)
    }
    assert(Similarity.autoCentroidParams(400L) === ((20L, 20L)))
    assert(Similarity.autoCentroidParams(4000L) === ((62L, 64L)))
    assert(Similarity.autoCentroidParams(0L) === ((1L, 1L)))
    val (c1, max1) = stats(400)
    val (c10, max10) = stats(4000)
    assert(c1 === 20L, "every centroid owns at least itself")
    assert(c10 === 64L)
    // 10x the corpus must NOT 10x the heaviest cell (sqrt scaling —
    // allow slack for the imbalance of random 4-d cells)
    assert(max10.toDouble / max1 <= 6.0,
      s"max occupancy grew $max1 -> $max10 on 10x rows")
  }

  test("two-level ivf equals flat assignment on a well-separated fixture and rank-selects on sparse ids") {
    // n=16 -> c=4 fine centroids {0,4,8,12}, g=2 coarse {0,8}. Four
    // tight direction clusters, one per fine centroid; the two coarse
    // centroids each own their pair of fine centroids (cos 0.9 within a
    // pair, 0 across), so every vector's nearest coarse cell contains
    // its globally nearest fine centroid — flat and two-level must
    // agree exactly.
    val bases = Seq(
      Array(1f, 0f, 0f, 0f), Array(0.9f, 0.43589f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0.9f, 0.43589f))
    val emb = (0 until 16).map { i =>
      val b = bases(i / 4).clone()
      val jitter = 0.01f * (i % 4) // 0 for the centroid member itself
      if (i / 4 == 0) b(1) += jitter
      else if (i / 4 == 1) b(1) += jitter
      else b(3) += jitter
      (i.toLong, b)
    }.toDF("vec_id", "embedding")
    val flat = Similarity.ivfCellsAuto(emb)
      .select("vec_id", "cell").as[(Long, Long)].collect().sortBy(_._1)
    val two = Similarity.ivfCellsTwoLevel(emb)
      .select("vec_id", "cell").as[(Long, Long)].collect().sortBy(_._1)
    assert(two === flat)
    // every cluster must land on its planted fine centroid
    assert(two.toMap === (0 until 16).map(i => i.toLong -> (i / 4 * 4).toLong).toMap)
    // sparse/offset id space: rank-stride selection picks the same
    // centroid STRUCTURE regardless of the id line (ranks 0,4,8,12 →
    // ids 1000,1004,1008,1012) — the r16 raw-id stride selection
    // require()d dense 0-based ids here and told callers to re-key
    val off = (0 until 16).map(i => ((i + 1000).toLong, bases(i / 4)))
      .toDF("vec_id", "embedding")
    val offExpected =
      (0 until 16).map(i => (i + 1000).toLong -> (i / 4 * 4 + 1000).toLong).toMap
    val offFlat = Similarity.ivfCellsAuto(off)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(offFlat === offExpected)
    val offTwo = Similarity.ivfCellsTwoLevel(off)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(offTwo === offExpected)
  }

  test("ivf assigns vectors to the nearest centroid and probes one cell") {
    // centroid 0 ~ x-axis, centroid 137 ~ y-axis (ids chosen to be centroids)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (137L, Array(0f, 1f, 0f), 0),
      (5L, Array(0.9f, 0.1f, 0f), 0),   // x-cell
      (6L, Array(0.1f, 0.9f, 0f), 0),   // y-cell
      (100L, Array(0.8f, 0.2f, 0f), 0)) // query, x-cell
      .toDF("vec_id", "embedding", "label")
    val cells = Similarity.ivfCells(emb)
      .select("vec_id", "cell").as[(Long, Long)].collect().toMap
    assert(cells(5L) === 0L && cells(6L) === 137L && cells(100L) === 0L)
    val top = Similarity.ivfTopK(emb, 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(top(100L) === Set(0L, 5L)) // x-cell only; y-cell never probed
    assert(top.values.flatten.toSet.intersect(Set(137L, 6L)).isEmpty)
  }

  test("kmeans learns planted clusters; ivf-kmeans probes the learned cell") {
    // three separated direction clusters; the k=3 deterministic init
    // (lowest ids) seeds one per cluster, so Lloyd rounds must keep each
    // planted group with its seed and converge
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),      // cluster A seed
      (1L, Array(0f, 1f, 0f)),      // cluster B seed
      (2L, Array(0f, 0f, 1f)),      // cluster C seed
      (3L, Array(0.9f, 0.1f, 0f)),  // A
      (4L, Array(0.8f, 0.2f, 0f)),  // A
      (5L, Array(0.1f, 0.9f, 0f)),  // B
      (6L, Array(0f, 0.2f, 0.8f)),  // C
      (100L, Array(0.95f, 0.05f, 0f))) // query (isQueryId), in A
      .map { case (id, a) => (id, a, 0) }
      .toDF("vec_id", "embedding", "label")
    val cents = Similarity.kmeansCentroids(emb, k = 3, iters = 3)
    val assign = Similarity.kmeansAssign(emb, cents)
      .select("vec_id", "cluster_id").as[(Long, Long)].collect().toMap
    cents.unpersist()
    assert(Seq(3L, 4L, 100L).forall(assign(_) == assign(0L)))
    assert(assign(5L) === assign(1L) && assign(6L) === assign(2L))
    assert(Set(assign(0L), assign(1L), assign(2L)).size === 3)
    // the query's top-2 comes from its own learned cell only
    val top = Similarity.ivfTopKKmeans(emb, k = 2, kc = 3, iters = 3)
      .filter($"query_id" === 100L).select("vec_id").as[Long].collect().toSet
    assert(top === Set(0L, 3L))
  }

  test("cluster-label materialization honors spark.graft.spillDir") {
    // a UNIQUE tag forces a fresh memo build (the "all" entry may
    // already be materialized by an earlier test in this JVM)
    val dir = java.nio.file.Files.createTempDirectory("graft_spill_conf")
    dir.toFile.deleteOnExit()
    spark.conf.set("spark.graft.spillDir", dir.toString)
    try {
      TextDedup.clusterLabels(spark, sfSmoke, "spillconf")(
        graft.tables.Tables.documents(spark, sfSmoke)).collect()
      val spilled = dir.toFile.listFiles
        .filter(f => f.isDirectory && f.getName.startsWith("cluster_labels_spillconf"))
      assert(spilled.nonEmpty &&
        spilled.exists(_.listFiles.exists(_.getName.endsWith(".parquet"))),
        "configured spill dir was not used")
    } finally spark.conf.unset("spark.graft.spillDir")
  }

  test("int8 quantization: hand-checked codes, checksum, and max error") {
    // v = [1.0, -0.5, 0.25], scale = 1.0 -> q = [127, -63, 32]
    // (floor(-63.5 + 0.5) = -63; floor(31.75 + 0.5) = 32)
    val emb = Seq((1L, Array(1.0f, -0.5f, 0.25f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.quantizeStats(emb)
      .select("scale", "n_dims", "q_sum", "max_err")
      .as[(Double, Int, Long, Double)].collect().head
    assert(r._1 === 1.0 && r._2 === 3)
    assert(r._3 === (127L - 63L + 32L))
    val expectedErr = Seq(
      math.abs(127.0 / 127.0 - 1.0),
      math.abs(-63.0 / 127.0 - (-0.5)),
      math.abs(32.0 / 127.0 - 0.25)).max
    assert(r._4 === expectedErr)
    // an all-zero vector must not divide by zero
    val z = Similarity.quantizeStats(
        Seq((2L, Array(0f, 0f), 0)).toDF("vec_id", "embedding", "label"))
      .select("q_sum").as[Long].collect().head
    assert(z === 0L)
  }

  test("dedup clustering is transitive: chains collapse to one min-id group") {
    // path graph 1-2-3-4-5 plus an isolated pair 7-8: transitivity must
    // propagate the min label across hops never directly paired
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val clusters = TextDedup.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(clusters(_) == 1L))
    assert(clusters(7L) === 7L && clusters(8L) === 7L)
    // loop-cost probe: a diameter-4 path needs the minimum label to walk
    // 4 hops (1 hop/round) plus the fixpoint-confirming round — a
    // regression that adds rounds (e.g. losing a propagation direction)
    // shows up here before it shows up as bench time
    assert(TextDedup.lastRounds === 5,
      s"expected 4 propagation rounds + 1 confirm, got ${TextDedup.lastRounds}")
  }

  test("approx quantiles: small groups are exact vs the rank statistic") {
    // accuracy 10000 >> group sizes at smoke scale, so the t-digest is
    // exact; the sketch's value is the MERGEABLE path at 100 TB where
    // the exact per-group sort is not. approx_percentile returns a rank
    // statistic (no interpolation), so compare against percentile_approx
    // semantics: an element of the group.
    val out = TextStats.qApproxQuantiles(spark, sfSmoke).collect()
    assert(out.nonEmpty)
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
      .select("lang", "n_chars").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    out.foreach { r =>
      val vals = docs(r.getString(0))
      assert(vals.contains(r.getLong(1)), "median must be a group element")
      assert(vals.contains(r.getLong(2)), "p90 must be a group element")
      assert(r.getLong(1) <= r.getLong(2))
      assert(r.getLong(3) === vals.length)
    }
  }

  test("length quantiles interpolate: median of {1,2,3,4} is 2.5") {
    val d = Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L), (4L, "a", 4L))
      .toDF("doc_id", "lang", "n_chars")
    val r = d.groupBy(col("lang"))
      .agg(expr("percentile(n_chars, 0.5D)").as("m")).collect()
    assert(r.head.getDouble(1) === 2.5)
  }

  test("property: clustering equals union-find on random pair graphs") {
    import org.scalacheck.Gen
    val edgeGen = Gen.listOfN(25,
      Gen.zip(Gen.choose(1L, 15L), Gen.choose(1L, 15L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct)
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      val got = TextDedup.dedupClusters(edges.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      // naive union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical representative = min node id per component
      val byRoot = nodes.groupBy(find)
      val expected = byRoot.flatMap { case (_, ns) =>
        val m = ns.min; ns.map(_ -> m)
      }
      assert(got === expected)
    }
  }

  test("deep chain: 1000-node path converges via the contraction fallback") {
    // diameter 999 >> the propagation budget (maxIter/2 = 10 rounds);
    // pre-fallback this threw. Now the large-star/small-star contraction
    // engages and must still produce exact component minima — and in
    // log-bounded rounds, not diameter-bounded ones.
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val clusters = TextDedup.dedupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size === 1000)
    assert(clusters.values.forall(_ == 1L),
      "every node on the path must label to the component minimum 1")
    assert(TextDedup.lastContractionRounds > 0,
      "the contraction fallback must have engaged (propagation cannot " +
        "cover diameter 999 in 10 rounds)")
    assert(TextDedup.lastContractionRounds <= 15,
      s"contraction is log-bounded: a 1000-node path must converge in " +
        s"~2*log2(1000)=20 alternations, got ${TextDedup.lastContractionRounds}")
    clusters // keep the map referenced
    ()
  }

  test("shallow graphs never pay for contraction") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = TextDedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(TextDedup.lastContractionRounds === 0,
      "propagation converged, so the fallback must not have run")
  }

  test("property: contraction equals union-find on random pair graphs") {
    import org.scalacheck.Gen
    // exercises contractToStars DIRECTLY (dedupClusters only reaches it
    // on deep graphs): random multigraphs with repeated/overlapping
    // components, checked against the same union-find reference as the
    // propagation property above
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(1L, 18L), Gen.choose(1L, 18L)))
      .map(_.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }
        .distinct)
    samples(edgeGen, 6).filter(_.nonEmpty).foreach { edges =>
      val sym = edges.toDF("doc_a", "doc_b")
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val symBoth = sym.unionByName(
        sym.select(col("dst").as("src"), col("src").as("dst")))
      val labels = TextDedup.contractToStars(symBoth, maxAlt = 30)
      val got = labels.as[(Long, Long)].collect().toMap
      labels.unpersist()
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val byRoot = nodes.groupBy(find)
      val expected = byRoot.flatMap { case (_, ns) =>
        val m = ns.min; ns.map(_ -> m)
      }
      assert(got === expected)
    }
  }

  test("repeated spans are invariant to the salt fan-out (scale knob)") {
    // salts is pure parallelism: totals are a sum of per-salt partial
    // counts, so 1, 4, and 64 salts must emit byte-identical spans
    // (the epochShuffle-nibbles / sequencePack-shards precedent)
    val docs = graft.tables.Tables.documents(spark, sfSmoke)
    val base = TextDedup.repeatedSpans(docs, salts = 1)
      .orderBy("doc_id", "span_start").collect().toSeq
    assert(base.nonEmpty)
    Seq(4, 64).foreach { s =>
      val got = TextDedup.repeatedSpans(docs, salts = s)
        .orderBy("doc_id", "span_start").collect().toSeq
      assert(got === base, s"salts=$s changed answers — the knob leaked into policy")
    }
  }

  test("ivf append: build(part1)+append(part2) lands the same cells as build(all)") {
    import graft.operators.Similarity
    val emb = graft.tables.Tables.embeddings(spark, sfSmoke)
    val isNew = col("vec_id") % Similarity.IvfAppendMod === Similarity.IvfAppendRem &&
      !Similarity.isCentroidId(col("vec_id"))
    val full = TextDedup.spillPath(spark, "spec_ivf_full")
    val split = TextDedup.spillPath(spark, "spec_ivf_split")
    Similarity.writeIvfIndex(emb, full)
    Similarity.writeIvfIndex(emb.filter(!isNew), split)
    Similarity.appendIvfIndex(spark, split, emb.filter(isNew))
    def cells(p: String) = spark.read.parquet(s"$p/cells")
      .select("vec_id", "cell").as[(Long, Long)].collect().toSet
    assert(cells(split) === cells(full),
      "incremental append diverged from the all-at-once build")
    // the append batch actually landed rows (non-vacuous)
    assert(emb.filter(isNew).count() > 0)
    // compaction collapses the build+append small files but must not
    // move a single row; probes read the compacted layout unchanged
    def fileCount(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$p/cells"))
    }
    val before = fileCount(split)
    Similarity.compactIvfIndex(spark, split)
    assert(cells(split) === cells(full),
      "compaction changed the cell set")
    assert(fileCount(split) <= before,
      "compaction must not increase the file count")
    val probed = Similarity.ivfProbeIndex(spark, split,
      emb.filter(Similarity.isQueryId(col("vec_id")))
        .select(col("vec_id").as("query_id"), col("embedding").as("q")),
      k = 3, nprobe = 2).count()
    assert(probed > 0, "probe over the compacted index must still answer")
  }

  test("IVF index lifecycle: build, append+compact, probe == all-at-once answers") {
    import graft.operators.Similarity
    val emb = graft.tables.Tables.embeddings(spark, sfSmoke)
    val isNew = col("vec_id") % Similarity.IvfAppendMod === Similarity.IvfAppendRem &&
      !Similarity.isCentroidId(col("vec_id"))
    val path = TextDedup.spillPath(spark, "spec_ivf_job")
    Similarity.writeIvfIndex(emb.filter(!isNew), path)
    Similarity.appendIvfIndex(spark, path, emb.filter(isNew))
    Similarity.compactIvfIndex(spark, path)
    val queries = emb.filter(Similarity.isQueryId(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val viaJob = Similarity.ivfProbeIndex(spark, path, queries, k = 3, nprobe = 2)
      .orderBy("query_id", "rk")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val allAtOnce = Similarity.qSimilarIvf2(spark, sfSmoke)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(viaJob === allAtOnce,
      "the scheduled lifecycle must answer exactly like the all-at-once build")
  }

  test("replayed appends land each vec_id once") {
    import Similarity._
    val emb = graft.tables.Tables.embeddings(spark, sfSmoke)
    val isNew = col("vec_id") % IvfAppendMod === IvfAppendRem &&
      !isCentroidId(col("vec_id"))
    val queries = queryVectors(emb)
    val increment = emb.filter(col("vec_id") % EmbedIncrementMod === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    case class Family(table: String,
                      build: (org.apache.spark.sql.DataFrame, String) => Unit,
                      append: (String, org.apache.spark.sql.DataFrame) => Unit,
                      probe: String => Seq[String],
                      compact: Option[String => Unit])
    Seq(
      Family("cells", writeIvfIndex, appendIvfIndex(spark, _, _),
        p => rows(ivfProbeIndex(spark, p, queries, k = 3, nprobe = 2)),
        Some(compactIvfIndex(spark, _))),
      Family("bands", writeBandIndex, appendBandIndex,
        p => rows(bandProbeIndex(spark, p, increment, 0.4)), None)
    ).foreach { f =>
      val p = java.nio.file.Files
        .createTempDirectory(s"graft-replay-${f.table}").toString
      def perId() = spark.read.parquet(s"$p/${f.table}")
        .groupBy("vec_id").count().as[(Long, Long)].collect().toMap
      f.build(emb.filter(!isNew), p)
      f.append(p, emb.filter(isNew))
      val once = perId()
      val answers = f.probe(p)
      assert(answers.nonEmpty, s"${f.table}: vacuous probe")
      def unchanged(step: String): Unit = {
        val now = perId()
        assert(now == once, s"${f.table}: $step changed the rows per vec_id, e.g. " +
          now.toSet.diff(once.toSet).take(3).mkString(", "))
        assert(f.probe(p) === answers, s"${f.table}: $step changed the answers")
      }
      f.append(p, emb.filter(isNew))
      unchanged("a replayed append")
      f.compact.foreach { compact =>
        compact(p)
        unchanged("compaction")
        f.append(p, emb.filter(isNew))
        unchanged("an append replayed after compaction")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    }
  }

  test("compaction keeps a crashed compaction's retired cells unless the live table carries them") {
    import Similarity._
    import org.apache.commons.io.FileUtils
    val emb = graft.tables.Tables.embeddings(spark, sfSmoke)
    val isNew = col("vec_id") % IvfAppendMod === IvfAppendRem &&
      !isCentroidId(col("vec_id"))
    val p = java.nio.file.Files.createTempDirectory("graft-compact-crash").toString
    def dir(name: String) = new java.io.File(s"$p/$name")
    def rowCount(name: String) = spark.read.parquet(s"$p/$name").count()
    writeIvfIndex(emb.filter(!isNew), p)
    appendIvfIndex(spark, p, emb.filter(isNew))
    val n = rowCount("cells")
    // a crash between the swap's renames: `cells_retired` is the only copy
    FileUtils.moveDirectory(dir("cells"), dir("cells_retired"))
    intercept[IllegalArgumentException](compactIvfIndex(spark, p))
    assert(rowCount("cells_retired") === n, "the only copy was dropped")
    // a retried append recreates `cells` without the retired batches
    appendIvfIndex(spark, p, emb.filter(isNew))
    val err = intercept[IllegalArgumentException](compactIvfIndex(spark, p))
    assert(err.getMessage.contains(s"$p/cells_retired"), err.getMessage)
    assert(rowCount("cells_retired") === n, "the only full copy was dropped")
    // a crash after the swap: the stale retired copy is dropped
    FileUtils.deleteDirectory(dir("cells"))
    FileUtils.copyDirectory(dir("cells_retired"), dir("cells"))
    compactIvfIndex(spark, p)
    FileUtils.copyDirectory(dir("cells"), dir("cells_retired"))
    compactIvfIndex(spark, p)
    assert(!dir("cells_retired").exists() && rowCount("cells") === n)
    FileUtils.deleteQuietly(dir(""))
  }

  test("localized: an oversized frame trips the row cap without a whole-frame collect") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
    val cap = Similarity.LocalizedRowCap
    // ONE partition of 4x the cap random longs (incompressible: at
    // least 8 bytes per row on the wire), so a whole-frame collect
    // ships >= 32 bytes per cap row back from its task before any check
    val big = spark.range(0L, 4L * cap, 1L, 1)
      .select((rand(7) * 9.2e18).cast("long").as("v"))
    val resultBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) resultBytes.addAndGet(e.taskMetrics.resultSize)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.add(e.jobId); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val err = intercept[IllegalArgumentException] {
        Similarity.localized(spark, big)
      }
      assert(err.getMessage.contains(s"(cap $cap)"))
      // a marker job: listener events arrive in order, so once its end
      // is seen every task of the localized collect has been counted
      sc.setJobGroup("localized-spec-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val marker = sc.statusTracker.getJobIdsForGroup("localized-spec-marker").max
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!ended.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(ended.contains(marker), "listener never saw the marker job end")
      // an UnsafeRow of one long is 16 bytes + a 4-byte length prefix,
      // so cap + 1 rows ship at most ~20 bytes each
      assert(resultBytes.get() < 24L * (cap + 1),
        s"${resultBytes.get()} result bytes were collected: more than cap + 1 rows")
    } finally sc.removeSparkListener(listener)
  }

  test("learned k-means index persists through the same layout and probes identically") {
    import graft.operators.Similarity
    val emb = graft.tables.Tables.embeddings(spark, sfSmoke)
    val path = TextDedup.spillPath(spark, "spec_kmeans_idx")
    Similarity.writeKmeansIndex(emb, path)
    val queries = emb.filter(Similarity.isQueryId(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    // the layout is centroid-agnostic: the SAME ivfProbeIndex answers
    // over learned cells; (query, vec) hit sets must match the
    // rebuilt-per-call learned path at equal (k, nprobe=1)
    val persisted = Similarity.ivfProbeIndex(spark, path, queries,
        k = 3, nprobe = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val rebuilt = Similarity.ivfTopKKmeans(emb, k = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(persisted === rebuilt,
      "probing the persisted learned index diverged from the in-memory path")
    assert(persisted.nonEmpty)
  }

  test("quantized index probe: near-full recall vs the full-precision probe") {
    import graft.operators.Similarity
    val emb = graft.tables.Tables.embeddings(spark, sfSmoke)
    val path = TextDedup.spillPath(spark, "spec_ivf_q8")
    Similarity.writeQuantizedIvfIndex(emb, path)
    val queries = emb.filter(Similarity.isQueryId(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    def hits(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val quant = hits(Similarity.ivfProbeQuantized(spark, path, queries, 3, 2))
    val fullPath = TextDedup.spillPath(spark, "spec_ivf_full2")
    Similarity.writeIvfIndex(emb, fullPath)
    val full = hits(Similarity.ivfProbeIndex(spark, fullPath, queries, 3, 2))
    assert(quant.keySet === full.keySet)
    // int8 on 64 dims loses ~0.4% per coordinate — top-3 sets should
    // nearly coincide; require mean overlap >= 2/3 (a real quantizer
    // regression, e.g. a scale bug, craters this to ~0)
    val overlaps = full.map { case (q, f) =>
      quant(q).intersect(f).size.toDouble / f.size }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 2.0 / 3.0, s"mean quantized recall $mean too low")
  }

  test("quantized IVF index delete: the one vec-id delete masks its probe") {
    import graft.operators.Similarity
    val emb = graft.tables.Tables.embeddings(spark, sfSmoke)
    val path = TextDedup.spillPath(spark, "spec_ivf_q8_del")
    Similarity.writeQuantizedIvfIndex(emb, path)
    val queries = Similarity.queryVectors(emb)
    def probe() = Similarity.ivfProbeQuantized(spark, path, queries, 3, 2)
      .select("vec_id").as[Long].collect().toSet
    val deleted = probe().take(3)
    assert(deleted.nonEmpty, "vacuous delete")
    Similarity.deleteIvfPqIndex(spark, path, deleted.toSeq.toDF("vec_id"))
    val after = probe()
    assert(after.nonEmpty && after.intersect(deleted).isEmpty,
      s"deleted ${deleted.intersect(after)} still served")
  }

  test("dedup clustering on an empty pair graph yields the empty cluster set") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(TextDedup.dedupClusters(empty).count() === 0)
  }

  test("hash split is deterministic, exhaustive, and id-stable") {
    val out = TextStats.qHashSplit(spark, sfSmoke).collect()
    val total = graft.tables.Tables.documents(spark, sfSmoke).count()
    assert(out.map(_.getLong(2)).sum === total)        // every doc assigned
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    // rerun == same assignment (no rand() anywhere)
    assert(TextStats.qHashSplit(spark, sfSmoke).collect().toSeq === out.toSeq)
  }

  test("multi-probe ivf reaches across the cell boundary nprobe=1 misses") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (137L, Array(0f, 1f, 0f), 0),
      (5L, Array(0.9f, 0.1f, 0f), 0),   // x-cell
      (6L, Array(0.1f, 0.9f, 0f), 0),   // y-cell
      (100L, Array(0.8f, 0.2f, 0f), 0)) // query, x-cell
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.ivfTopKProbed(emb, k = 5, nprobe = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // with the second probe the y-cell candidates appear too
    assert(top(100L) === Set(0L, 5L, 137L, 6L))
  }

  test("bpe pretokenizer splits contractions, digit runs and punctuation") {
    val toks = Seq(Tuple1("I'll pay $1,234 now."))
      .toDF("text")
      .select(TextStats.bpeTokens(col("text")).as("t"))
      .as[Seq[String]].head()
    assert(toks === Seq("I", "'ll", " pay", " $", "1", ",", "234", " now", "."))
  }

  test("tfidf ranks a document's unique term above corpus-wide terms") {
    val d = Seq(
      (1L, "common rare1 common"),
      (2L, "common rare2"),
      (3L, "common")).toDF("doc_id", "text")
    val top = TextStats.tfidfTopTerms(d, k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top(1L) === "rare1" && top(2L) === "rare2")
    // doc 3 has only the ubiquitous term left
    assert(top(3L) === "common")
  }

  test("curation composes: split, exact dedup, near-dup drop, quality, embedding") {
    import graft.operators.Curate
    // a second stop-rich text, dissimilar from `base` (no shared shingles)
    val base2 = "a farmer of great patience and a dog of rare spirit walk to " +
      "the market and back to the barn every day before sunrise"
    // a third distinct text for the split-dropped doc (it must NOT be a
    // near-dup of the (2,4) pair, or the pair-drop would eat doc 2 too)
    val base3 = "to the river and to the hills a small band of travelers and " +
      "their quiet guide walk on through the morning mist of early spring"
    val cdocs = Seq(
      (1L, base3),             // high quality, but split bucket 96 → test split
      (2L, base + " yesterday"), // SURVIVES: min id of the near-dup pair (2,4)
      (3L, "12345 67890 abcdef qwerty zxcvb"), // no stopwords → quality-gated
      (4L, base + " today"),     // doc_b of the verified pair → near-dup drop
      (5L, base2),               // SURVIVES: exact-dup keep (min of {5,10})
      (10L, base2)               // exact copy → dropped by keep_id semi join
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val emb = Seq((2L, Array(3f, 4f), 0)).toDF("vec_id", "embedding", "label")
    val out = Curate.curate(cdocs, emb).collect().sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toSeq === Seq(2L, 5L))
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getDouble(3) === 5.0) // |(3,4)| attached
    assert(byId(5L).isNullAt(3))          // no vector → null norm, row kept
  }

  test("curation v5 drops stopword salad that every v4 gate waves through") {
    import graft.operators.Curate
    // the salad doc is built FROM stopwords (individually common, so
    // the rare-TOKEN gate passes and quality's stopword ratio is
    // high) but in a shuffled order no other doc uses — its bigram
    // transitions are corpus-rare, which is exactly the signal only
    // the v5 gate reads. The normal docs repeat a common phrasing so
    // their own transitions stay corpus-frequent.
    // Shared 4-token "quads" appear verbatim in every normal doc, so
    // their internal bigrams are corpus-common (count 5); doc-unique
    // separator words between quads cap every cross-doc repeated run
    // at 4 tokens (< SpanGram=5 — no boilerplate span) and hold
    // pairwise Jaccard far under the near-dup threshold. Per normal
    // doc: 18 common + 11 rare bigrams → kept by the v5 gate.
    val quads = Seq("of the green tree", "a small bird and",
      "to the river stone", "of a quiet barn",
      "and the silver moon", "to a hidden path")
    def normal(seps: Seq[String]): String =
      quads.zip(seps).map { case (q, s) => s"$q $s" }.mkString(" ")
    // the salad reverses each quad: same (corpus-common) TOKENS — the
    // rare-token gate passes — but transitions nobody else uses: all
    // ~23 bigrams are corpus-rare → the v5 gate drops it
    val salad = quads.map(_.split(" ").reverse.mkString(" ")).mkString(" ")
    val cdocs = Seq(
      (2L, normal(Seq("maple", "perch", "cedar", "otter", "heron", "aspen"))),
      (3L, normal(Seq("birch", "trout", "alder", "badger", "crane", "rowan"))),
      (4L, normal(Seq("pine", "bream", "willow", "marten", "stork", "hazel"))),
      (5L, normal(Seq("oak", "roach", "poplar", "weasel", "egret", "elm"))),
      (7L, normal(Seq("fir", "chub", "walnut", "stoat", "ibis", "yew"))),
      (8L, salad)
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val emb = Seq((2L, Array(3f, 4f), 0)).toDF("vec_id", "embedding", "label")
    val v4 = Curate.curateV4(cdocs, emb).select("doc_id").as[Long].collect().toSet
    val v5 = Curate.curateV5(cdocs, emb).select("doc_id").as[Long].collect().toSet
    assert(v4.contains(8L),
      "fixture broken: the salad doc must PASS every v4 gate " +
        s"(v4 kept $v4) for the v5 delta to be the proven drop")
    assert(v5 === v4 - 8L, s"v5 must drop exactly the salad doc: $v4 vs $v5")
  }

  test("curation v7 drops off-domain survivors that every v6 gate waves through") {
    import graft.operators.{Curate, TrainPrep}
    // Six docs share classifier-positive quads (so v6's gate passes:
    // vector/query/window/table/merge/stream outweigh the/a), each
    // with doc-unique separators (near-dup and span gates quiet,
    // bigram transitions corpus-common via the shared quads). Three
    // docs are the DSIR target source (src0); three others (srcB)
    // additionally carry a 4-token run absent from src0 — every gate
    // through v6 waves them through (the run's tokens and bigrams
    // occur 3x corpus-wide, above both rare cutoffs), but their
    // importance weight vs the src0 profile is decisively negative.
    val quads = Seq("of the vector query", "a small window and",
      "to the river stone", "of a quiet table",
      "and the silver merge", "to a hidden stream")
    def doc(seps: Seq[String], tail: String = ""): String =
      quads.zip(seps).map { case (q, s) => s"$q $s" }.mkString(" ") + tail
    val offDomain = " kelp brine coral dune"
    val cdocs = Seq(
      (2L, doc(Seq("maple", "perch", "cedar", "otter", "heron", "aspen")), "src0"),
      (3L, doc(Seq("birch", "trout", "alder", "badger", "crane", "rowan")), "src0"),
      (4L, doc(Seq("pine", "bream", "willow", "marten", "stork", "hazel")), "src0"),
      (5L, doc(Seq("oak", "roach", "poplar", "weasel", "egret", "elm"), offDomain), "srcB"),
      (7L, doc(Seq("fir", "chub", "walnut", "stoat", "ibis", "yew"), offDomain), "srcB"),
      (14L, doc(Seq("ash", "dace", "laurel", "ferret", "avocet", "teak"), offDomain), "srcB")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val emb = Seq((2L, Array(3f, 4f), 0)).toDF("vec_id", "embedding", "label")
    val v6 = Curate.curateV6(cdocs, emb).select("doc_id").as[Long].collect().toSet
    assert(v6 === Set(2L, 3L, 4L, 5L, 7L, 14L),
      s"fixture broken: every doc must PASS v6 for the v7 delta to be the proven drop, got $v6")
    // the importance signs themselves, pinned so the fixture can't rot
    val signs = TrainPrep.dsirWeights(cdocs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(Seq(2L, 3L, 4L).forall(signs(_)), s"src0 docs must score positive: $signs")
    assert(Seq(5L, 7L, 14L).forall(!signs(_)), s"srcB docs must score negative: $signs")
    val v7 = Curate.curateV7(cdocs, emb).select("doc_id").as[Long].collect().toSet
    assert(v7 === Set(2L, 3L, 4L), s"v7 must drop exactly the off-domain docs: $v7")
  }

  test("materialized v5 emit: every consumer is equivalent to recomputation") {
    import graft.operators.Curate
    // same fixture as the v7 test: all six docs pass v6's gates, three
    // fall to the DSIR cut — so the v6 and v7 consumers both do real
    // work over the emit, and shards/manifest see a multi-doc pack
    val quads = Seq("of the vector query", "a small window and",
      "to the river stone", "of a quiet table",
      "and the silver merge", "to a hidden stream")
    def doc(seps: Seq[String], tail: String = ""): String =
      quads.zip(seps).map { case (q, s) => s"$q $s" }.mkString(" ") + tail
    val offDomain = " kelp brine coral dune"
    val cdocs = Seq(
      (2L, doc(Seq("maple", "perch", "cedar", "otter", "heron", "aspen")), "src0"),
      (3L, doc(Seq("birch", "trout", "alder", "badger", "crane", "rowan")), "src0"),
      (4L, doc(Seq("pine", "bream", "willow", "marten", "stork", "hazel")), "src0"),
      (5L, doc(Seq("oak", "roach", "poplar", "weasel", "egret", "elm"), offDomain), "srcB"),
      (7L, doc(Seq("fir", "chub", "walnut", "stoat", "ibis", "yew"), offDomain), "srcB"),
      (14L, doc(Seq("ash", "dace", "laurel", "ferret", "avocet", "teak"), offDomain), "srcB")
    ).toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val emb = Seq((2L, Array(3f, 4f), 0)).toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("v5emit_spec_").toString
    try {
      Curate.curateV5(cdocs, emb).write.mode("overwrite").parquet(dir)
      val emit = spark.read.parquet(dir)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.map(String.valueOf)).toSet
      assert(rows(Curate.v6FromEmit(emit, cdocs)) ===
        rows(Curate.curateV6(cdocs, emb)), "v6 over the emit drifted")
      assert(rows(Curate.v7FromEmit(emit, cdocs)) ===
        rows(Curate.curateV7(cdocs, emb)), "v7 over the emit drifted")
      assert(rows(Curate.trainShardsFromEmit(emit)) ===
        rows(Curate.trainShards(cdocs, emb)), "shards over the emit drifted")
      assert(rows(Curate.manifestOf(Curate.trainShardsFromEmit(emit))) ===
        rows(Curate.shardManifest(cdocs, emb)), "manifest over the emit drifted")
      assert(Curate.v7FromEmit(emit, cdocs).count() === 3L,
        "fixture must exercise a real v7 cut over the emit")
    } finally {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("memoized near-drop set: curate family over the memo equals recomputation") {
    import graft.operators.Curate
    val dir = sf("sf0.001")
    val cdocs = graft.tables.Tables.documents(spark, dir)
    val emb = graft.tables.Tables.embeddings(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    val memo = Curate.nearDropIds(spark, dir)
    assert(rows(Curate.curateWith(cdocs, emb, memo)) ===
      rows(Curate.curate(cdocs, emb)), "curate over the memo drifted")
    assert(rows(Curate.curateV2With(cdocs, emb, memo)) ===
      rows(Curate.curateV2(cdocs, emb)), "v2 over the memo drifted")
    assert(rows(Curate.curateV4With(cdocs, emb, memo)) ===
      rows(Curate.curateV4(cdocs, emb)), "v4 over the memo drifted")
  }

  test("materialized cluster labels serve every consumer identically to recomputation") {
    import graft.operators.{CorpusAnalytics, TrainPrep}
    val dir = sf("sf0.001")
    val corpus = graft.tables.Tables.documents(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    // the memoized label table the harness entries scan
    val memo = TextDedup.clusterLabels(spark, dir, "all")(corpus)
    val fresh = TextDedup.withDedupClusters(
      TextDedup.minhashPairs(corpus))(rows)
    assert(rows(memo) === fresh, "memoized labels drifted from recomputation")
    assert(fresh.nonEmpty, "fixture has no clusters — equivalence untested")
    // survivorship over the memo == the self-contained spelling
    assert(rows(CorpusAnalytics.survivorshipFromLabels(corpus, memo)) ===
      rows(CorpusAnalytics.survivorship(corpus)),
      "survivorship over the memo drifted")
    // leakage split over the memo == over a fresh label frame
    val viaFresh = TextDedup.withDedupClusters(
      TextDedup.minhashPairs(corpus)) { l =>
      rows(TrainPrep.leakageSplit(corpus, l))
    }
    assert(rows(TrainPrep.leakageSplit(corpus, memo)) === viaFresh,
      "leakage split over the memo drifted")
    // a cleaned spill dir mid-JVM must NOT serve a failing read: the
    // memo revalidates the path and rebuilds once, identically
    val memoRows = rows(memo)
    val servedPath = memo.inputFiles.head
      .replaceAll("file:/*", "/").replaceAll("/[^/]*\\.parquet$", "")
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
    }
    rm(new java.io.File(servedPath))
    val rebuilt = TextDedup.clusterLabels(spark, dir, "all")(corpus)
    assert(rows(rebuilt) === memoRows,
      "rebuilt-after-clean labels drifted from the original memo")
  }

  test("curation v2 adds repetition, decontamination and pii gates") {
    import graft.operators.Curate
    // ids 2,3,4 are train-bucket (<80); 29 is the eval-set member
    // (29 % 29 == 0) and also train-bucket, so its absence proves the
    // benchmark exclusion, not the split
    val sharedRun = "winter stars shine over mountains"
    val cdocs = Seq(
      // SURVIVES — stop-bearing but flat token distribution (every
      // token ≤ 2 occurrences keeps top_token_frac under the 0.2 gate);
      // carries an email that must be redacted-and-kept, not dropped
      (2L, "a cat of the house and one mouse in that field go to " +
        "some barn then wait for every sign contact alice@example.com"),
      // repetitive: quality-passing (all stopwords) but top_token_frac=1
      (3L, Seq.fill(30)("the").mkString(" ")),
      // contaminated: flat stop-bearing prefix + the eval doc's 5-gram
      // run — must PASS repetition so decontamination is the proven drop
      (4L, "a fish of the lake and one bird in this sky travel to " +
        s"some sea $sharedRun"),
      // eval-set member: excluded itself, and bans its shingles
      (29L, s"a completely different opening line here $sharedRun")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val emb = Seq((2L, Array(3f, 4f), 0)).toDF("vec_id", "embedding", "label")
    val out = Curate.curateV2(cdocs, emb).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(2L))
    val r = out.head
    assert(r.getAs[Double]("emb_norm") === 5.0)
    // "alice@example.com" (17 chars) became "[EMAIL]" (7)
    val fullLen = cdocs.filter(col("doc_id") === 2L)
      .select(length(col("text"))).head().getInt(0)
    assert(r.getAs[Int]("n_chars_redacted") === fullLen - 10)
  }

  test("curation v3 adds the rare-token and boilerplate-span gates") {
    import graft.operators.Curate
    // four docs share one 24-token multiset (12 stopwords + 12 pool
    // words) in four different interleavings: every pool word's corpus
    // count is >= 4 (above the rare cutoff), no 3-gram is shared (the
    // near-dup gate stays quiet), no 5-gram repeats (no spans). All
    // ids are pre-checked train-bucket (< 80).
    val cdocs = Seq(
      (2L, "the river a stone of cloud and meadow to summer the garden " +
        "a window of music and copper to lantern the violet a harbor"),
      (4L, "the stone a river of meadow and cloud to garden the summer " +
        "a music of window and lantern to copper the harbor a violet"),
      (8L, "the cloud a meadow of river and stone to music the window " +
        "a summer of garden and violet to harbor the copper a lantern"),
      (14L, "the meadow a cloud of stone and river to window the music " +
        "a garden of summer and harbor to violet the lantern a copper"),
      // all-rare doc: 8 words unique to it among 14 tokens ->
      // 2*n_rare > n_tokens; stop-bearing, so quality passes in v2
      (42L, "the zanzibar of quixotic a vermilion and obelisk " +
        "the juniper of katabatic rhapsody ember"),
      // boilerplate doc: one 12-token run repeated verbatim -> its
      // repeated 5-grams merge into a span covering the WHOLE doc;
      // vocabulary is corpus-common, token histogram flat, so every
      // v2 gate (and v3's rare gate) passes
      (52L, "the river of stone and cloud to meadow a summer the garden " +
        "the river of stone and cloud to meadow a summer the garden")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val emb = Seq((2L, Array(3f, 4f), 0)).toDF("vec_id", "embedding", "label")
    val v2Ids = Curate.curateV2(cdocs, emb).collect().map(_.getLong(0)).toSet
    val v3Ids = Curate.curateV3(cdocs, emb).collect().map(_.getLong(0)).toSet
    // v2 keeps everything; v3's new gates drop exactly 42 and 52
    assert(v2Ids === Set(2L, 4L, 8L, 14L, 42L, 52L))
    assert(v3Ids === Set(2L, 4L, 8L, 14L))
    // v4 = the same keep set, emitting span-STRIPPED text: its ids
    // match v3 and its clean_text matches stripSpans row for row
    val v4 = Curate.curateV4(cdocs, emb).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v4.keySet === v3Ids)
    val stripped = graft.operators.TextDedup.stripSpans(cdocs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    v4.foreach { case (id, text) => assert(text === stripped(id)) }
  }

  test("curate v8: a boilerplate-heavy doc's quality verdict flips once the boilerplate is stripped") {
    import graft.operators.{Curate, TrainPrep, TextStats}
    // marker-terminated punct-heavy license block: the marker makes the
    // block's CDC chunks self-contained (byte-identical in every
    // carrier — the TrainPrepSpec strip-test trick), and the punct
    // density is what drags the RAW quality score under the gate
    def isMarker(t: String): Boolean = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cdc:$t".getBytes("UTF-8"))
      val hex = md.map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % TrainPrep.CdcDivisor == 0
    }
    val mk = (1 to 1000).map(i => s"mk$i").find(isMarker).get
    val lic = ((1 to 40).map(i => s"@#$$x$i&*!") :+ mk).mkString(" ")
    // stopword-rich core: clean quality = stop_ratio·2 + 0.5 ≫ 0.55
    val core = "the cat sat on the mat and it was a good day for all of " +
      "the cats to be out in the sun and they were happy to stay there"
    // pick train-split carrier ids (splitBucket < 80) so the split
    // stage cannot mask the quality flip
    val trainIds = {
      val probe = (0L until 40L).toDF("doc_id")
      probe.filter(TextStats.splitBucket(col("doc_id")) < 80)
        .orderBy("doc_id").as[Long].collect()
    }
    val Seq(a, b, c) = trainIds.take(3).toSeq
    // the license leads each carrier: its terminal marker ends the
    // chunk, so the block is a self-contained chunk byte-identical in
    // both carriers (a mid-document block would fuse with whatever
    // preceded it since the preceding text carries no marker)
    val docs = Seq(
      (a, s"$lic $core"), // the boilerplate-heavy carrier
      (b, s"$lic entirely different unique tail words " +
        (1 to 30).map(i => s"u$i").mkString(" ")), // second carrier
      (c, s"$core plus some extra unique closing words"))
      .toDF("doc_id", "text")
    val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // the flip, measured directly: raw quality fails the gate, quality
    // over the stripped text clears it
    val rawQ = TextStats.qualityFeatures(docs)
      .filter(col("doc_id") === a).select("quality_score").as[Double].head()
    val banned = TrainPrep.cdcSharedChunks(docs).select(col("fp"))
    val cleanQ = TextStats.qualityFeatures(
        TrainPrep.cdcStripAgainst(docs, banned)
          .select(col("doc_id"), col("clean_text").as("text")))
      .filter(col("doc_id") === a).select("quality_score").as[Double].head()
    assert(rawQ < Curate.QualityThreshold,
      s"raw quality $rawQ must FAIL the ${Curate.QualityThreshold} gate")
    assert(cleanQ >= Curate.QualityThreshold,
      s"clean quality $cleanQ must PASS the ${Curate.QualityThreshold} gate")
    // and the composed capstones agree: v1 (raw-quality gate) rejects
    // the carrier, v8 (strip-then-gate) admits it with the clean text
    val v1 = Curate.curate(docs, emb).select("doc_id").as[Long].collect().toSet
    assert(!v1.contains(a), "raw-quality curate must reject the carrier")
    val v8 = Curate.curateV8(docs, emb)
      .select("doc_id", "clean_text", "n_dropped_chunks")
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(v8.contains(a), "strip-then-curate must admit the carrier")
    assert(v8(a)._3 > 0L, "the carrier must have dropped chunks")
    assert(!v8(a)._2.contains("@#"), "the admitted text must be clean")
  }

  test("curate config toggles remove gates: spammy doc survives without the repetition gate") {
    import graft.operators.Curate
    val cdocs = Seq(
      (2L, "a cat of the house and one mouse in that field go to " +
        "some barn then wait for every sign before dark"),
      (3L, Seq.fill(30)("the").mkString(" ")) // repetitive, quality-passing
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s1"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val emb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    def ids(cfg: Curate.CurateConfig) =
      Curate.curateConfigured(cdocs, emb, cfg).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    assert(ids(Curate.CurateConfig()) === Set(2L))
    assert(ids(Curate.CurateConfig(repetitionGate = false)) === Set(2L, 3L))
    // decontamination off → eval-membership no longer excludes anything
    // (these ids are not eval members anyway); quality threshold bites
    assert(ids(Curate.CurateConfig(qualityThreshold = 99.0)) === Set.empty)
  }

  test("pcm frame energy decodes s16le exactly: sign, endianness, odd tail") {
    import Multimodal.AudioFrame
    // [0x01,0x00] = +1; [0x00,0x80] = -32768; [0xFF,0x7F] = +32767;
    // a trailing odd byte carries no sample
    val pcm = Array[Byte](0x01, 0x00, 0x00, 0x80.toByte, 0xFF.toByte, 0x7F, 0x2A)
    val loud = Multimodal.pcmFrameEnergy(Seq((1L, pcm)).toDS(), frameSamples = 2)
      .collect().sortBy(_.frame_idx).toSeq
    assert(loud === Seq(
      AudioFrame(1L, 0L, 2, 1L + 32768L * 32768L, silent = false),
      AudioFrame(1L, 1L, 1, 32767L * 32767L, silent = false)))
    // all-zero PCM is silent in every frame
    val quiet = Multimodal.pcmFrameEnergy(
      Seq((2L, new Array[Byte](8))).toDS(), frameSamples = 2).collect()
    assert(quiet.length === 2 && quiet.forall(f => f.silent && f.energy == 0L))
    // sub-sample blob (1 byte) emits no frame
    assert(Multimodal.pcmFrameEnergy(
      Seq((3L, Array[Byte](9))).toDS()).collect().isEmpty)
    // null blob: no frames, no NPE (the oracle's octet_length(NULL)
    // row-drop agrees)
    assert(Multimodal.pcmFrameEnergy(
      Seq((4L, null.asInstanceOf[Array[Byte]])).toDS()).collect().isEmpty)
  }

  test("perceptual near-dup: identical blobs at hamming 0, spiked twin verified, inverse far") {
    val b1 = Array.tabulate[Byte](122)(i => ((i * 7) % 251).toByte)
    val b2 = b1.clone()
    val b3 = b1.clone(); b3(60) = (b3(60) ^ 0x7f).toByte // one-byte spike
    val b4 = Array.tabulate[Byte](122)(i => (250 - (i * 7) % 251).toByte)
    val h1 = Multimodal.perceptualHash(b1).get
    val h3 = Multimodal.perceptualHash(b3).get
    val h4 = Multimodal.perceptualHash(b4).get
    val d13 = java.lang.Long.bitCount(h1 ^ h3)
    // fixture preconditions — fail LOUDLY if a hash change voids them
    assert(d13 >= 1 && d13 <= 3, s"spike fixture drifted: hamming $d13")
    assert(java.lang.Long.bitCount(h1 ^ h4) > 3, "inverse fixture drifted")
    val out = Multimodal.mediaNearDups(
        Seq((1L, b1), (2L, b2), (3L, b3), (4L, b4)).toDS())
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out((1L, 2L)) === 0, "the identical pair must pair at hamming 0")
    assert(out((1L, 3L)) === d13 && out((2L, 3L)) === d13,
      "the spiked twin must pair through BOTH members of the dup group")
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "the inverse blob is past the radius")
    // sub-gradient blobs emit no fingerprint, no pair, no crash
    assert(Multimodal.mediaNearDups(
      Seq((9L, Array[Byte](1)), (10L, null.asInstanceOf[Array[Byte]]))
        .toDS()).collect().isEmpty)
  }

  /** Minimal valid BMP: 14-byte file header + BITMAPINFOHEADER, zero
    * pixel payload (the parser reads only the header). */
  private def miniBmp(w: Int, h: Int, bpp: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(64)
      .putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(bpp.toShort)
    b.array()
  }

  test("multimodal meta extraction decodes REAL BMP and netpbm headers") {
    val ppm = "P6\n12 9\n255\n".getBytes("ISO-8859-1") ++
      Array.fill[Byte](12 * 9 * 3)(7)
    val pgm = "P5\n# a comment line\n 3 4\n255\n".getBytes("ISO-8859-1") ++
      Array.fill[Byte](12)(1)
    val blobs = Seq(
      (1L, miniBmp(13, 7, 24)),
      (2L, miniBmp(5, -40, 32)), // top-down BMP: negative stored height
      (3L, ppm), (4L, pgm),
      (5L, Array[Byte](1, 2, 3))).toDS()
    val metas = Multimodal.extractMeta(blobs).collect().sortBy(_.doc_id)
    assert(metas(0) === Multimodal.MediaMeta(1L, 64, 13, 7, 3))
    assert(metas(1) === Multimodal.MediaMeta(2L, 64, 5, 40, 4),
      "negative (top-down) height must abs, 32bpp -> 4 channels")
    assert(metas(2) === Multimodal.MediaMeta(3L, ppm.length, 12, 9, 3))
    assert(metas(3) === Multimodal.MediaMeta(4L, pgm.length, 3, 4, 1),
      "P5 header with comment + extra whitespace must parse, 1 channel")
    assert(metas(4) === Multimodal.MediaMeta(5L, 3, 0, 0, 0),
      "unrecognized blob -> (0,0,0) sentinel, no throw")
  }

  /** Minimal PNG header: 8-byte signature + IHDR length/tag + the 13
    * IHDR payload bytes (the parser reads nothing past offset 25). */
  private def miniPng(w: Int, h: Int, depth: Int, color: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(33)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    b.put(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a))
    b.putInt(13).put("IHDR".getBytes("ISO-8859-1"))
    b.putInt(w).putInt(h).put(depth.toByte).put(color.toByte)
    b.array()
  }

  test("multimodal meta extraction decodes PNG IHDR: dimensions and color-type channels") {
    val blobs = Seq(
      (1L, miniPng(640, 480, 8, 2)),   // truecolor -> 3
      (2L, miniPng(13, 7, 8, 0)),      // grayscale -> 1
      (3L, miniPng(5, 9, 8, 6)),       // RGBA -> 4
      (4L, miniPng(4, 4, 8, 4)),       // gray+alpha -> 2
      (5L, miniPng(3, 3, 8, 3)),       // palette -> 1
      (6L, miniPng(3, 3, 7, 2)),       // invalid bit depth -> sentinel
      (7L, miniPng(0, 3, 8, 2)),       // zero width -> sentinel
      // signature but mangled IHDR tag -> sentinel
      (8L, Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
        ++ Array.fill[Byte](25)(0))).toDS()
    val m = Multimodal.extractMeta(blobs).collect().sortBy(_.doc_id)
      .map(x => (x.width, x.height, x.channels))
    assert(m.toSeq === Seq((640, 480, 3), (13, 7, 1), (5, 9, 4),
      (4, 4, 2), (3, 3, 1), (0, 0, 0), (0, 0, 0), (0, 0, 0)))
  }

  test("resize keeps every factor^2-th byte and halves REAL dimensions (round up)") {
    val bytes = miniBmp(13, 7, 24) // 64 bytes
    val blobs = Seq((9L, bytes)).toDS()
    val (meta, out) = Multimodal.resize(blobs, factor = 2).collect().head
    assert(out.toSeq === (0 until 16).map(i => bytes(i * 4)).toSeq)
    assert(meta === Multimodal.ResizedMeta(9L, 64, 16, 7, 4))
    // a sentinel blob resizes to 0x0, bytes still sliced
    val (jm, jo) = Multimodal.resize(
      Seq((10L, Array[Byte](1, 2, 3, 4, 5))).toDS(), factor = 2).collect().head
    assert(jo.toSeq === Seq[Byte](1, 5) && jm ===
      Multimodal.ResizedMeta(10L, 5, 2, 0, 0))
  }

  test("frame sampling keeps every k-th chunk with a short final frame") {
    val blobs = Seq((7L, new Array[Byte](4200))).toDS() // 5 chunks of 1024 (last 104)
    val frames = Multimodal.frameSample(blobs, chunk = 1024, every = 3)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(f => (f.frame_idx, f.frame_len)).toSeq ===
      Seq((0L, 1024L), (3L, 1024L)))
    val tail = Multimodal.frameSample(Seq((8L, new Array[Byte](3100))).toDS(),
      chunk = 1024, every = 3).collect()
    assert(tail.map(f => (f.frame_idx, f.frame_len)).toSeq === Seq((0L, 1024L), (3L, 28L)))
  }

  /** Independent reference: hashed 3-shingle set per doc, md5 top 16
    * bits straight from MessageDigest (no graft code in the loop). */
  private def refShingleSets(docs: org.apache.spark.sql.DataFrame): Map[Long, Set[Int]] = {
    def h16(s: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xff) << 8) | (d(1) & 0xff)
    }
    docs.select("doc_id", "text").collect().map { r =>
      val toks = r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq
      r.getLong(0) -> toks.sliding(TextDedup.ShingleN)
        .filter(_.length == TextDedup.ShingleN)
        .map(s => h16(s.mkString(" "))).toSet
    }.toMap
  }

  private def refBrute(sets: Map[Long, Set[Int]],
                       t: Double): Map[(Long, Long), (Long, Double)] =
    (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      denom = sets(a).size + sets(b).size - inter
      if denom > 0
      j = inter.toDouble / denom.toDouble
      if j >= t
    } yield (a, b) -> ((inter.toLong, j))).toMap

  test("PROPERTY: repeatedSpans/stripSpans == brute-force reference on random corpora") {
    import org.scalacheck.Gen
    val k = TextDedup.SpanGram
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh",
      "ii", "jj", "kk", "ll", "mm", "nn")
    // random docs plus one verbatim copy of a random doc — guarantees
    // at least one repeated run without hand-placing it
    val genCorpus = for {
      n <- Gen.choose(3, 6)
      texts <- Gen.listOfN(n, Gen.choose(k + 1, 18).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab))))
      dupOf <- Gen.choose(0, n - 1)
    } yield texts :+ texts(dupOf)
    // independent reference: string k-grams counted globally, hits
    // merged into islands when gaps ≤ k (the operator's contract)
    def refSpans(corpus: Map[Long, Seq[String]]): Map[Long, Seq[(Long, Long)]] = {
      val grams = corpus.toSeq.flatMap { case (id, toks) =>
        toks.sliding(k).filter(_.length == k).zipWithIndex
          .map { case (g, p) => (id, p.toLong, g.mkString(" ")) }
      }
      val counts = grams.groupBy(_._3).view.mapValues(_.size).toMap
      grams.filter(g => counts(g._3) >= 2)
        .groupBy(_._1).view.mapValues { hits =>
          val ps = hits.map(_._2).sorted
          ps.foldLeft(Vector.empty[(Long, Long)]) { case (acc, p) =>
            acc.lastOption match {
              case Some((s, e)) if p - (e - k) <= k =>
                acc.init :+ ((s, p + k))
              case _ => acc :+ ((p, p + k))
            }
          }
        }.toMap
    }
    samples(genCorpus, 12).foreach { corpus =>
      val byId = corpus.zipWithIndex
        .map { case (toks, i) => i.toLong -> toks.toSeq }.toMap
      val docs = byId.toSeq.map { case (id, toks) =>
        (id, toks.mkString(" "), "en", "s1")
      }.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
      val gotSpans = TextDedup.repeatedSpans(docs).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
      val expSpans = refSpans(byId)
      assert(gotSpans === expSpans, s"spans diverge on $byId")
      // strip: exactly the uncovered positions survive, in order
      val gotClean = TextDedup.stripSpans(docs).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      byId.foreach { case (id, toks) =>
        val cover = expSpans.getOrElse(id, Seq.empty)
        val kept = toks.zipWithIndex.collect {
          case (tok, p) if !cover.exists(s => p >= s._1 && p < s._2) => tok
        }
        assert(gotClean(id) === kept.mkString(" "), s"doc $id of $byId")
      }
    }
  }

  test("PROPERTY: paragraphDedup == keep-one reference on random corpora") {
    import org.scalacheck.Gen
    val w = 3 // small chunks + tiny vocab force cross-doc collisions
    val vocab = Vector("x", "y", "z")
    val genCorpus = for {
      n <- Gen.choose(3, 6)
      texts <- Gen.listOfN(n, Gen.choose(0, 11).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab))))
      dupOf <- Gen.choose(0, n - 1)
    } yield texts :+ texts(dupOf) // one verbatim copy guarantees dups
    def ref(corpus: Map[Long, Seq[String]]): Map[Long, (String, Long, Long)] = {
      val all = corpus.toSeq.flatMap { case (id, toks) =>
        toks.grouped(w).zipWithIndex
          .map { case (c, i) => (id, i.toLong, c.mkString(" ")) }
      }
      val owner = all.groupBy(_._3).view
        .mapValues(cs => cs.map(x => (x._1, x._2)).min).toMap
      corpus.map { case (id, toks) =>
        val cs = toks.grouped(w).zipWithIndex
          .map { case (c, i) => (i.toLong, c.mkString(" ")) }.toSeq
        val kept = cs.filter { case (i, ch) => owner(ch) == ((id, i)) }
        id -> ((kept.map(_._2).mkString(" "), cs.size.toLong, kept.size.toLong))
      }
    }
    samples(genCorpus, 12).foreach { corpus =>
      val byId = corpus.zipWithIndex
        .map { case (toks, i) => i.toLong -> toks.toSeq }.toMap
      val docs = byId.toSeq.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = TextDedup.paragraphDedup(docs, w).collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got === ref(byId), s"keep-one diverges on $byId")
    }
  }

  test("PROPERTY: paragraph incremental == union-batch slice on random append splits") {
    import org.scalacheck.Gen
    val w = 3
    val vocab = Vector("x", "y", "z")
    val genCase = for {
      n <- Gen.choose(4, 7)
      texts <- Gen.listOfN(n, Gen.choose(0, 11).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab))))
      dupOf <- Gen.choose(0, n - 1)
      split <- Gen.choose(1, n) // append boundary over the n+1 docs
    } yield (texts :+ texts(dupOf), split)
    samples(genCase, 10).foreach { case (corpus, split) =>
      val all = corpus.zipWithIndex
        .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val standing = all.filter(col("doc_id") < split)
      val inc = all.filter(col("doc_id") >= split)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      // append layout (standing ids strictly below increment ids) ⇒
      // admission against the standing set ≡ one-shot batch sliced
      assert(rows(TextDedup.paragraphDedupIncrement(inc, standing, w)) ===
        rows(TextDedup.paragraphDedup(all, w).filter(col("doc_id") >= split)),
        s"incremental diverges on $corpus split $split")
    }
  }

  test("PROPERTY: winnowFingerprints == window-min reference on random corpora") {
    import org.scalacheck.Gen
    val k = 2; val w = 3 // small params hit ties and truncated windows
    val vocab = Vector("aa", "bb", "cc")
    val genCorpus = Gen.choose(2, 5).flatMap(n =>
      Gen.listOfN(n, Gen.choose(0, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab)))))
    def md5fp(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString.take(15)
    }
    def ref(corpus: Map[Long, Seq[String]]): Set[(Long, Long, String)] =
      corpus.toSeq.flatMap { case (id, toks) =>
        val keys = toks.sliding(k).filter(_.length == k).zipWithIndex
          .map { case (g, p) => md5fp(g.mkString(" ")) + f"$p%010d" }.toVector
        val n = keys.size
        if (n == 0) Seq.empty
        else (0 to math.max(n - w, 0)).map { s =>
          val m = keys.slice(s, s + w).min
          (id, m.substring(15).toLong, m.substring(0, 15))
        }
      }.toSet
    samples(genCorpus, 12).foreach { corpus =>
      val byId = corpus.zipWithIndex
        .map { case (toks, i) => i.toLong -> toks.toSeq }.toMap
      val docs = byId.toSeq.map { case (id, toks) => (id, toks.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = TextDedup.winnowFingerprints(docs, k, w).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(got === ref(byId), s"winnow diverges on $byId")
    }
  }

  test("PROPERTY: mmrRerank == driver-side greedy reference on random embeddings") {
    import org.scalacheck.Gen
    // the reference cosine replays CosineSim's exact accumulation:
    // index-order double sums, dot / (√na · √nb)
    def refCos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // Spark normalizes -0.0 to 0.0 in sort keys; mirror it, or an
    // exact ±0.0 score tie orders differently in the reference
    def norm(x: Double): Double = if (x == 0.0) 0.0 else x
    val genCorpus = Gen.choose(4, 9).flatMap(n =>
      Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-3, 3))
        .map(v => if (v.forall(_ == 0)) List(1, 0, 0, 0) else v)))
    val (poolK, outK) = (5, 3)
    samples(genCorpus, 10).foreach { vs =>
      val emb = vs.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toFloat).toArray) }
        .toDF("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") === 0L)
        .select(col("vec_id").as("query_id"), col("embedding").as("q"))
      val got = Similarity.mmrRerank(emb, queries, poolK, outK)
        .orderBy("mmr_rank").as[(Long, Long, Long, Double)].collect().toSeq
      val q = vs.head.map(_.toFloat).toArray
      val cand = vs.zipWithIndex.drop(1)
        .map { case (v, i) => i.toLong -> v.map(_.toFloat).toArray }.toMap
      val rel = cand.map { case (id, v) => id -> refCos(q, v) }
      val pool = cand.keys.toSeq.sortBy(id => (-norm(rel(id)), id)).take(poolK)
      var selected = Vector(pool.head)
      for (_ <- 2 to outK if selected.size < pool.size) {
        val pick = pool.filterNot(selected.contains).minBy { id =>
          val ms = selected.map(s => refCos(cand(id), cand(s))).max
          (-norm(Similarity.MmrLambda * rel(id) -
            Similarity.MmrLambdaComp * ms), id)
        }
        selected :+= pick
      }
      assert(got.map(_._2).toSeq === selected, s"greedy diverges on $vs")
      got.foreach { case (_, id, _, r) => assert(r === rel(id)) }
    }
  }

  test("PROPERTY: setSimilarityJoin == brute force on random mutated corpora") {
    import org.scalacheck.Gen
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val genCorpus = for {
      n <- Gen.choose(3, 7)
      texts <- Gen.listOfN(n, Gen.choose(8, 20).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab))))
      dupOf <- Gen.choose(0, n - 1)
      editPos <- Gen.choose(0, 19)
    } yield {
      val src = texts(dupOf).toVector
      val mutated = src.updated(editPos min (src.length - 1), "zz")
      texts :+ mutated.toList // a planted near-dup of one random doc
    }
    samples(genCorpus, 12).foreach { corpus =>
      val docs = corpus.zipWithIndex.map { case (toks, i) =>
        (i.toLong, toks.mkString(" "), "en", "s1")
      }.toDF("doc_id", "text", "lang", "source")
        .withColumn("n_chars", length(col("text")).cast("long"))
      val t = 0.6
      val got = TextDedup.setSimilarityJoin(docs, t).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
      val brute = refBrute(refShingleSets(docs), t)
      assert(got === brute, s"corpus=${corpus.map(_.mkString(" "))}")
    }
  }

  test("setSimilarityJoin equals Scala brute force — zero recall loss") {
    // threshold 0.75: the planted near-dup pair's shingle Jaccard is
    // ~0.87 (2 of 24 trigrams differ), safely inside; doc 3/5 far out
    val t = 0.75
    val got = TextDedup.setSimilarityJoin(docs, t)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // ground truth by brute force over independently-derived hashed
    // 3-shingle sets (md5 top 16 bits, straight from MessageDigest)
    val sets: Map[Long, Set[Int]] = refShingleSets(docs)
    val brute = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      denom = sets(a).size + sets(b).size - inter
      j = inter.toDouble / denom.toDouble
      if j >= t
    } yield (a, b) -> ((inter.toLong, j))).toMap
    assert(got === brute)
    // the planted near/exact dups must be present with exact overlap
    assert(got.contains((1L, 2L)) && got.contains((1L, 4L)))
    assert(got((1L, 4L))._2 === 1.0, "exact dup pairs at Jaccard 1.0")
    // unrelated docs never reach the output
    assert(!got.keys.exists { case (a, b) => a == 5L || b == 5L })
  }

  // --- random-projection dimensionality reduction ---

  test("rp: sign matrix is deterministic and non-degenerate") {
    val signs = for (i <- 0 until Similarity.RpInDims;
                     j <- 0 until Similarity.RpOutDims)
      yield Similarity.rpSign(i, j)
    assert(signs.forall(s => s == 1 || s == -1))
    assert(signs.contains(1) && signs.contains(-1),
      "a constant matrix would collapse every projection direction")
    // stable across calls (plan-time bake must be reproducible)
    assert(Similarity.rpSign(3, 7) === Similarity.rpSign(3, 7))
    // rough balance: a heavily skewed md5 parity would be a bug
    val plus = signs.count(_ == 1)
    assert(plus > signs.size / 4 && plus < signs.size * 3 / 4)
  }

  test("rp: projection is the signed sum of micro-quantized components") {
    // 2 live dims; dims 3..64 absent -> contribute exactly 0
    val emb = Seq((1L, Array(1.0f, -0.5f))).toDF("vec_id", "embedding")
    val got = Similarity.rpProject(emb).as[(Long, Seq[Long])].head()
    val want = (0 until Similarity.RpOutDims).map { j =>
      Similarity.rpSign(0, j) * 1000000L + Similarity.rpSign(1, j) * -500000L
    }
    assert(got._2 === want)
    // identical vectors project identically; zero projects to zero
    val z = Seq((2L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    assert(Similarity.rpProject(z).as[(Long, Seq[Long])].head()._2 ===
      Seq.fill(Similarity.RpOutDims)(0L))
  }

  test("rp: null elements contribute 0; components past inDims are ignored") {
    // 64 ones -> p_j = sum of signs(*, j) in micro-units
    val base = (0 until Similarity.RpInDims).map(i =>
      (0 until Similarity.RpOutDims).map(j => Similarity.rpSign(i, j)))
    val want = (0 until Similarity.RpOutDims).map(j =>
      base.map(_(j)).sum * 1000000L)
    // 70-long vector of ones: dims 65..70 must not contribute
    val long = Seq((1L, Array.fill(70)(1.0f))).toDF("vec_id", "embedding")
    assert(Similarity.rpProject(long).as[(Long, Seq[Long])].head()._2 === want)
    // a null element zeroes only its own term (dim 0 here)
    val withNull = Seq((2L, Array[java.lang.Float](null) ++
      Array.fill(63)(java.lang.Float.valueOf(1.0f))))
      .toDF("vec_id", "embedding")
    val wantNull = (0 until Similarity.RpOutDims).map(j =>
      base.drop(1).map(_(j)).sum * 1000000L)
    assert(Similarity.rpProject(withNull)
      .as[(Long, Seq[Long])].head()._2 === wantNull)
  }

  test("rp ann: an identical vector is retrieved through the projected bands") {
    // query id 0 (isQueryId); 700 shares the exact vector -> identical
    // projection -> identical band sigs -> candidate; cosine 1.0 at rk 1
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val other = Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((0L, v), (700L, v), (13L, other), (29L, other.map(-_)))
      .toDF("vec_id", "embedding")
    val got = Similarity.annTopKProjected(emb, k = 3)
      .filter(col("query_id") === 0L)
      .orderBy("rk").as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty && got.head._2 === 700L && got.head._4 > 0.999999)
  }

  test("property: auto centroid selection equals the sorted-rank reference on arbitrary id spaces") {
    import org.scalacheck.Gen
    // id-space generator: dense prefixes, offsets, multiplicative
    // re-keys, and random holes — every shape the dense fast path and
    // the rank path must agree on (the fast path fires only when it
    // is provably the same selection)
    val genIds = for {
      n <- Gen.choose(5, 40)
      mult <- Gen.oneOf(1L, 1L, 7L) // dense-compatible twice as often
      off <- Gen.oneOf(0L, 0L, 3L, 1000L)
      useHoles <- Gen.oneOf(false, false, true) // independent of mult/off
      holes <- Gen.listOfN(n, Gen.choose(0, 9))
    } yield (0 until n).zip(holes)
      .filter { case (_, h) => !useHoles || h > 1 }
      .map { case (i, _) => i * mult + off }
      .map(_.toLong).distinct
    samples(genIds, 12).filter(_.size >= 2).foreach { ids =>
      // distinct pseudo-random directions: cos(v, v) = 1 is the unique
      // max, so every selected centroid owns itself and the distinct
      // cell set IS the selected centroid-id set
      val emb = ids.map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 13.7 + d * 2.3).toFloat)))
        .toDF("vec_id", "embedding")
      val n = ids.size.toLong
      val (stride, c) = Similarity.autoCentroidParams(n)
      val want = ids.sorted.zipWithIndex
        .filter { case (_, r) => r % stride == 0 && r < stride * c }
        .map(_._1).toSet
      val got = Similarity.ivfCellsAuto(emb)
        .select("cell").distinct().as[Long].collect().toSet
      assert(got === want,
        s"ids=${ids.sorted.mkString(",")} stride=$stride c=$c")
    }
  }

  // --- product quantization ---

  test("pq: codes are M nibbles from the codebook; append ≡ one-shot; exact dup retrieved at rk 1") {
    import Similarity._
    // 32 vectors: query id 0 (isQueryId), an exact duplicate at id 7,
    // the rest spread over deterministic directions
    val v = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val emb = (Seq((0L, v), (7L, v)) ++ (1 until 32).filter(_ != 7).map(i =>
      (i.toLong, Array.tabulate(64)(d => math.cos(i * 64 + d).toFloat))))
      .toDF("vec_id", "embedding")
    val cb = pqCodebook(emb)
    val cbRows = cb.as[(Long, Long, Seq[Long])].collect()
    assert(cbRows.length === PqM * math.min(PqK, 32),
      "codebook must be M rows per training vector")
    assert(cbRows.forall(_._3.length === PqSubDim))
    val codes = pqEncode(emb, cb).as[(Long, Seq[Long])].collect()
    assert(codes.length === 32)
    assert(codes.forall(c => c._2.length === PqM &&
      c._2.forall(j => j >= 0 && j < PqK)))
    // identical vectors encode identically (deterministic argmin)
    val byId = codes.toMap
    assert(byId(0L) === byId(7L))
    // exact dup sits at rk 1 with full-precision cosine 1.0 — the ADC
    // shortlist must surface it and the re-rank scores it exactly
    val got = pqTopK(emb, k = 3).filter(col("query_id") === 0L)
      .orderBy("rk").as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty && got.head._2 === 7L && got.head._4 > 0.999999)
    // IVF-PQ: the identical vector lands in the query's own cell, so
    // the cell-pruned candidate set still surfaces it at rk 1
    val got2 = ivfPqTopK(emb, k = 3, nprobe = 2)
      .filter(col("query_id") === 0L)
      .orderBy("rk").as[(Long, Long, Long, Double)].collect()
    assert(got2.nonEmpty && got2.head._2 === 7L && got2.head._4 > 0.999999)
    // append ≡ one-shot: same codebook, increment encoded separately
    val p1 = java.nio.file.Files.createTempDirectory("graft-pq1").toString
    val p2 = java.nio.file.Files.createTempDirectory("graft-pq2").toString
    writePqIndex(emb, p1)
    val isNew = col("vec_id") % 3 === 1
    // p2 shares p1's codebook (the append contract: codes are only
    // comparable under ONE frozen codebook) and lands the standing
    // codes first (as one batch dir — every table under codes/ is a
    // batch=<tag>/ layout), then the increment through the append path
    val cbStanding = spark.read.parquet(s"$p1/codebook")
    cbStanding.write.mode("overwrite").parquet(s"$p2/codebook")
    pqEncode(emb.filter(!isNew), cbStanding)
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .write.mode("overwrite").parquet(s"$p2/codes/batch=standing")
    appendPqIndex(spark, p2, emb.filter(isNew))
    def landed(p: String) = spark.read.parquet(s"$p/codes")
      .select("vec_id", "codes").as[(Long, Seq[Long])].collect()
      .sortBy(_._1).toSeq
    assert(landed(p2) === landed(p1),
      "build+append must land the one-shot codes")
    val probe1 = pqProbeIndex(spark, p1, queryVectors(emb), 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val probe2 = pqProbeIndex(spark, p2, queryVectors(emb), 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(probe1.toSeq === probe2.toSeq)
    // REPLAY idempotence: re-running the SAME append is a no-op (its
    // identity-addressed batch dir is already committed) — a bare
    // mode(append) would land duplicate vec_id rows, doubling both ADC
    // sums (adc × √2) and emitting duplicate result rows per query
    appendPqIndex(spark, p2, emb.filter(isNew))
    assert(landed(p2) === landed(p1),
      "a replayed PQ append must not duplicate code rows")
    val probe2r = pqProbeIndex(spark, p2, queryVectors(emb), 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(probe2r.toSeq === probe1.toSeq,
      "probe answers must be unchanged after a replayed append")
  }

  /** 256 vectors in 16 tight direction clusters (cluster = id / 16,
    * contiguous id blocks, so the rank-stride fine centroids land one
    * per cluster — the honest IVF shape) with meaningful within-
    * cluster offsets: the geometry where whole-vector stride codewords
    * collapse every cluster member to near-ties while residual /
    * learned codewords still resolve the within-cluster structure.
    * Seeded, so assertions are stable. */
  private def clusteredEmb: org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(42)
    val bases = Array.fill(16)(Array.fill(64)(rnd.nextGaussian().toFloat))
    (0 until 256).map { i =>
      val b = bases(i / 16)
      (i.toLong,
        Array.tabulate(64)(d => b(d) + 0.2f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** Recall@3 of an approximate (query_id, vec_id, …) result against
    * brute-force cosine top-3 over the same corpus. */
  private def pqRecallOf(emb: org.apache.spark.sql.DataFrame,
                         approx: org.apache.spark.sql.DataFrame): Double = {
    import Similarity._
    val exact = topK(emb, queryVectors(emb), 3)
      .select(col("query_id"), col("vec_id"))
    val hits = exact.join(approx.select(col("query_id"), col("vec_id")),
      Seq("query_id", "vec_id"), "left_semi").count()
    hits.toDouble / exact.count()
  }

  test("residual IVF-PQ: deterministic, exact-dup at rk 1, recall >= the raw-codebook form on a clustered corpus") {
    import Similarity._
    val emb = clusteredEmb
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double =
      pqRecallOf(emb, approx)
    // determinism: two independent builds agree row for row
    val r1 = ivfPqResidualTopK(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val r2 = ivfPqResidualTopK(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(r1.toSeq === r2.toSeq)
    // an exact duplicate of query 0 must surface at rk 1 with full-
    // precision cosine 1.0 (residual of a duplicate lands in the same
    // cell with the identical code; the re-rank scores it exactly)
    val dup = emb.filter(col("vec_id") =!= 7L)
      .unionByName(emb.filter(col("vec_id") === 0L)
        .select(lit(7L).as("vec_id"), col("embedding")))
    val got = ivfPqResidualTopK(dup, k = 3, nprobe = 2)
      .filter(col("query_id") === 0L)
      .orderBy("rk").as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty && got.head._2 === 7L && got.head._4 > 0.999999)
    // the residual ADC must rank candidates at least as well as the
    // raw-codebook ADC — same cells, same candidates, same shortlist
    // width; only the code fidelity differs (Jégou et al.'s IVFADC
    // argument: residual variance << raw variance at equal bits)
    val rawRecall = recallOf(ivfPqTopK(emb, k = 3, nprobe = 2))
    val resRecall = recallOf(ivfPqResidualTopK(emb, k = 3, nprobe = 2))
    info(s"ivf-pq recall: raw=$rawRecall residual=$resRecall")
    assert(resRecall >= rawRecall,
      s"residual recall $resRecall must be >= raw recall $rawRecall")
    assert(resRecall > 0.5, s"residual recall $resRecall not vacuous")
  }

  test("Lloyd-trained residual IVF-PQ: deterministic; the k-means objective strictly descends; iters=0 == the mid-stride form") {
    import Similarity._
    val emb = clusteredEmb
    // determinism: the integer-mean Lloyd rounds are partitioning-
    // independent, so two independent trainings agree row for row
    val r1 = ivfPqResidualTopKLloyd(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val r2 = ivfPqResidualTopKLloyd(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(r1.toSeq === r2.toSeq)
    // zero rounds degenerate to the mid-stride chain exactly — the
    // composition changes ONLY the codebook
    val base = ivfPqResidualTopK(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val it0 = ivfPqResidualTopKLloyd(emb, k = 3, nprobe = 2, iters = 0)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(it0.toSeq === base.toSeq)
    // the guarantee k-means actually gives: the L2 quantization
    // objective descends monotonically round over round (Lloyd's
    // theorem survives the integer floor-means — each floor is within
    // 1 micro of the true mean, far inside the measured drops)
    val errs = Seq(0, 1, 2).map { it =>
      ivfPqLloydQuantError(emb, it)
        .as[(Long, Long)].collect()(0)._2
    }
    info(s"quantization error by round: ${errs.mkString(" -> ")}")
    assert(errs(1) < errs(0) && errs(2) < errs(1),
      s"objective must descend every round: $errs")
    assert(errs(2) < (errs(0) * 7) / 10,
      s"2 rounds should cut the fixture error >30%: $errs")
    // recall under the COSINE ADC is reported, not asserted — the
    // measured metric mismatch (L2-MSE-optimal codewords lose angular
    // resolution vs full-norm sampled residuals at K=16) is documented
    // at ivfPqLloydRecall and certified by q_ivfpq_lloyd_recall /
    // q_ivfpq_lloyd_mse
    val resRecall = pqRecallOf(emb, ivfPqResidualTopK(emb, k = 3, nprobe = 2))
    val lloydRecall =
      pqRecallOf(emb, ivfPqResidualTopKLloyd(emb, k = 3, nprobe = 2))
    info(s"residual recall: mid-stride=$resRecall lloyd=$lloydRecall " +
      "(cosine-ADC metric mismatch — see ivfPqLloydRecall scaladoc)")
  }

  test("spherical-Lloyd residual codebook: deterministic; recall recovers the mid-stride baseline") {
    import Similarity._
    val emb = clusteredEmb
    val r1 = ivfPqResidualTopKSpherical(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val r2 = ivfPqResidualTopKSpherical(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(r1.toSeq === r2.toSeq, "spherical training must be deterministic")
    assert(r1.nonEmpty)
    val mid = pqRecallOf(emb, ivfPqResidualTopK(emb, k = 3, nprobe = 2))
    val lloyd = pqRecallOf(emb, ivfPqResidualTopKLloyd(emb, k = 3, nprobe = 2))
    val sph = pqRecallOf(emb, ivfPqResidualTopKSpherical(emb, k = 3, nprobe = 2))
    info(s"residual recall: mid-stride=$mid lloyd=$lloyd spherical=$sph")
    // the r19 honest negative's own prescription: restoring codeword
    // norms must recover what L2-mean shrinkage lost under cosine ADC
    assert(sph >= lloyd,
      s"spherical recall $sph must not lose to plain Lloyd $lloyd")
    assert(sph >= mid,
      s"spherical recall $sph must recover the mid-stride baseline $mid")
  }

  test("integer-mean k-means IVF: deterministic across runs; recall reported vs the float form, floored") {
    import Similarity._
    val emb = clusteredEmb
    val r1 = ivfTopKKmeansInt(emb, k = 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val r2 = ivfTopKKmeansInt(emb, k = 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(r1.toSeq === r2.toSeq, "integer training must be deterministic")
    assert(r1.nonEmpty)
    // recall: the integer form assigns by L2 (textbook Lloyd, exact in
    // integers) where the float form assigns by cosine — legitimately
    // different partitions, so recall is REPORTED and floored, not
    // forced ≥ (measured: 0.89 vs 1.0 on this fixture — one boundary
    // neighbor lands across a cell seam under L2 placement; the trade
    // buys a hash-certified partition and a map-only assignment with
    // no corpus×K window shuffle)
    val intRecall = pqRecallOf(emb, ivfTopKKmeansInt(emb, k = 3))
    val floatRecall = pqRecallOf(emb, ivfTopKKmeans(emb, k = 3))
    info(s"kmeans IVF recall: int=$intRecall float=$floatRecall")
    assert(intRecall > 0.8, s"integer partition recall $intRecall collapsed")
  }

  test("PROPERTY: kmeans_top_cells == the composed HOF argmin/top-n, ties and truncation included") {
    // the native expression's parity contract against the composed
    // spelling it replaced (the PqEncode bit-parity discipline):
    // identical micro-quantization, identical (dist, cid)
    // lexicographic order — exercised on random vectors against a
    // centroid table that CONTAINS exact duplicates (forced ties,
    // broken by cid) and probed past K (truncation)
    val rnd = new scala.util.Random(11)
    val dims = 16
    val cents0 = (0 until 6).map(cid =>
      (cid.toLong, Array.fill(dims)(rnd.nextInt(4000000).toLong - 2000000L)))
    // duplicate centroid values under new ids: exact distance ties
    val cents = cents0 ++ Seq((6L, cents0(2)._2.clone()),
      (7L, cents0(0)._2.clone()))
    val emb = (0 until 200).map(i =>
      (i.toLong, Array.fill(dims)(rnd.nextFloat() * 4f - 2f)))
      .toDF("vec_id", "embedding")
    val centsRow = Seq(Tuple1(cents.map { case (c, m) => (c, m.toSeq) }))
      .toDF("_c")
      .select(col("_c").cast("array<struct<cid:bigint,cm:array<bigint>>>")
        .as("_cents"))
    val microed = transform(col("embedding"),
      x => floor(x.cast("double") * lit(1e6) + lit(0.5)).cast("long"))
    val scored = transform(col("_cents"), c =>
      struct(
        aggregate(zip_with(microed, c.getField("cm"),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, d) => acc + d).as("d"),
        c.getField("cid").as("cid")))
    for (n <- Seq(1, 3, 20)) { // argmin, top-n, n > K truncation
      val both = emb.crossJoin(broadcast(centsRow))
        .select(col("vec_id"),
          call_function("kmeans_top_cells",
            col("embedding"), col("_cents"), lit(n)).as("native"),
          transform(slice(array_sort(scored), 1, n),
            s => s.getField("cid")).as("composed"))
        .filter(not(col("native") <=> col("composed")))
      assert(both.isEmpty,
        s"n=$n: native diverges from composed:\n" +
          both.limit(3).collect().mkString("\n"))
    }
  }

  test("PROPERTY: cos_top_cells == the window-ranked cosine argmax/top-n, ties, NaN and truncation included") {
    // the float/cosine twin of the kmeans_top_cells parity pin: the
    // native map-only argmax must reproduce the row_number-window
    // spelling it replaced (r22) — (cos DESC, cid ASC), cosine
    // accumulated in CosineSim's exact fp order — on random vectors
    // against a centroid table that CONTAINS exact duplicates (forced
    // cosine ties, broken by cid) plus a ZERO query vector (cosine NaN
    // against every centroid — Spark's total order ranks NaN greatest
    // and equal to itself, so the argmax falls to the cid tie-break in
    // BOTH spellings), probed past K (truncation)
    val rnd = new scala.util.Random(13)
    val dims = 8
    val cents0 = (0 until 6).map(cid =>
      (cid.toLong, Array.fill(dims)(rnd.nextFloat() * 4f - 2f)))
    val cents = cents0 ++ Seq((6L, cents0(2)._2.clone()),
      (7L, cents0(0)._2.clone()))
    val emb = ((0 until 200).map(i =>
        (i.toLong, Array.fill(dims)(rnd.nextFloat() * 4f - 2f))) :+
        ((200L, Array.fill(dims)(0f))))
      .toDF("vec_id", "embedding")
    val centsDf = cents.map { case (c, v) => (c, v.toSeq) }
      .toDF("centroid_id", "c")
      .select(col("centroid_id"), col("c").cast("array<float>").as("c"))
    val centsRow = centsDf.agg(collect_list(
      struct(col("centroid_id").as("cid"), col("c").as("cv"))).as("_cents"))
    for (n <- Seq(1, 3, 20)) { // argmax, top-n, n > K truncation
      val native = emb.crossJoin(broadcast(centsRow))
        .select(col("vec_id"), call_function("cos_top_cells",
          col("embedding"), col("_cents"), lit(n)).as("cells"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("s").desc, col("centroid_id"))
      val composed = emb.crossJoin(broadcast(centsDf))
        .select(col("vec_id"), col("centroid_id"),
          call_function("cosine_sim", col("embedding"), col("c")).as("s"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= n)
        .groupBy(col("vec_id"))
        .agg(transform(array_sort(collect_list(
          struct(col("rk"), col("centroid_id")))),
          s => s.getField("centroid_id")).as("cells"))
      val diff = native.as("n").join(composed.as("c"), Seq("vec_id"))
        .filter(not(col("n.cells") <=> col("c.cells")))
      assert(diff.isEmpty,
        s"n=$n: native diverges from the window spelling:\n" +
          diff.limit(3).collect().mkString("\n"))
    }
  }

  test("√N auto-K learned partition: sizing rule, determinism, learns the planted structure") {
    import Similarity._
    // the sizing rule: K = ⌈√N⌉, floored at 1
    assert(kmeansAutoK(500L) === 23)
    assert(kmeansAutoK(2000L) === 45)
    assert(kmeansAutoK(256L) === 16)
    assert(kmeansAutoK(1L) === 1 && kmeansAutoK(0L) === 1)
    assert(kmeansAutoK(1000000000L) === 31623)
    // on the planted fixture N=256 → K=16 = exactly the planted
    // cluster count: the auto-sized partition should rediscover it
    val emb = clusteredEmb
    val r1 = ivfTopKKmeansAuto(emb, k = 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val r2 = ivfTopKKmeansAuto(emb, k = 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(r1.toSeq === r2.toSeq, "auto-K training must be deterministic")
    assert(r1.nonEmpty)
    val recall = pqRecallOf(emb, ivfTopKKmeansAuto(emb, k = 3))
    info(s"auto-K (K=16) recall: $recall")
    assert(recall > 0.5, s"auto-sized partition recall $recall collapsed")
  }

  test("landed integer-learned index: probe == rebuilt-per-call; replays safe; delete masks; rebuild applies") {
    import Similarity._
    val emb = clusteredEmb
    val p = java.nio.file.Files
      .createTempDirectory("graft-kmeans-int-idx").toString
    writeKmeansIntStructures(emb, p) // K = ⌈√256⌉ = 16, trained on all
    appendKmeansIntIndex(spark, p, emb.filter(col("vec_id") % 2 === 1))
    appendKmeansIntIndex(spark, p, emb.filter(col("vec_id") % 2 === 0))
    def probe() = kmeansIntProbeIndex(spark, p, queryVectors(emb), 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect().toSeq
    val landed = probe()
    val oneShot = ivfTopKKmeansAuto(emb, k = 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect().toSeq
    assert(landed === oneShot,
      "the landed index must answer exactly like the rebuilt-per-call form")
    // replayed append: identity-addressed no-op
    appendKmeansIntIndex(spark, p, emb.filter(col("vec_id") % 2 === 0))
    assert(probe() === landed,
      "a replayed append must not change answers")
    assert(spark.read.parquet(s"$p/cells")
      .select("vec_id").distinct().count() === 256L,
      "every vector's cell row landed exactly once")
    // delete masks immediately; replay no-op; rebuild applies + clears
    val victim = landed.head._2
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    val after = probe()
    assert(!after.exists(_._2 == victim), "deleted vector still served")
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    assert(probe() === after)
    writeKmeansIntStructures(emb.filter(col("vec_id") =!= victim), p)
    appendKmeansIntIndex(spark, p, emb.filter(col("vec_id") =!= victim))
    assert(!new java.io.File(s"$p/deletes").exists(),
      "rebuild must clear the applied tombstones")
    assert(!probe().exists(_._2 == victim))
  }

  test("streaming learned-index serving equals the one-shot landed probe, tombstones masked") {
    import Similarity._
    val emb = clusteredEmb
    val p = java.nio.file.Files
      .createTempDirectory("graft-kmeans-int-stream").toString
    writeKmeansIntStructures(emb, p)
    appendKmeansIntIndex(spark, p, emb)
    val queries = queryVectors(emb)
    val victim = kmeansIntProbeIndex(spark, p, queries, 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)]
      .collect().head._2
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    val expected = kmeansIntProbeIndex(spark, p, queries, 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)]
      .collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-kmeans-int-q")
    queries.withColumn("slice", col("query_id") % 2)
      .repartition(2, col("slice")).drop("slice")
      .write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema(queries.schema).parquet(s"$dir/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = streamingKmeansIntSearch(spark, p, stream, k = 3) {
      (res, _) =>
        val rows = res.as[(Long, Long, Long, Double)].collect()
        got.synchronized { got ++= rows }; ()
    }
    try {
      assert(q.awaitTermination(120000), "streaming query did not finish")
      assert(got.sortBy(r => (r._1, r._3)).toSeq ===
        expected.sortBy(r => (r._1, r._3)),
        "streamed serving must equal the masked one-shot landed probe")
      assert(got.nonEmpty && !got.exists(_._2 == victim))
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("learned-K trade table: one row per K, shared reference, occupancy tightens as K grows") {
    import Similarity._
    val emb = clusteredEmb
    val t = kmeansTradeTable(emb).orderBy("k_cells")
      .as[(Long, Long, Long, Long, Double, Double, Long, Double)]
      .collect().toSeq
    assert(t.size === 3, s"one row per K, got $t")
    // every partition covers the whole corpus
    assert(t.map(_._3).distinct === Seq(emb.count()))
    // more cells → the hottest cell can only shrink (trained spread)
    assert(t.map(_._4) === t.map(_._4).sorted.reverse,
      s"max_occ must be non-increasing in K: $t")
    // the table is a real trade readout: recall populated everywhere
    assert(t.forall(_._8 >= 0.0) && t.exists(_._8 > 0.0))
  }

  test("fully-learned IVFADC: deterministic; exact dup at rk 1; recall reported vs the rank-stride chain") {
    import Similarity._
    val emb = clusteredEmb
    val r1 = ivfPqResidualTopKLearned(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val r2 = ivfPqResidualTopKLearned(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(r1.toSeq === r2.toSeq, "learned training must be deterministic")
    // an exact duplicate of query 0 places in the same learned cell
    // with the identical residual code and re-ranks to cosine 1.0
    val dup = emb.filter(col("vec_id") =!= 7L)
      .unionByName(emb.filter(col("vec_id") === 0L)
        .select(lit(7L).as("vec_id"), col("embedding")))
    val got = ivfPqResidualTopKLearned(dup, k = 3, nprobe = 2)
      .filter(col("query_id") === 0L)
      .orderBy("rk").as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty && got.head._2 === 7L && got.head._4 > 0.999999)
    // recall vs the rank-stride two-level residual chain: REPORTED and
    // floored — K=8 learned cells vs ~16 rank cells are different
    // partitions with different probe budgets; the learned form's win
    // is that its partition is data-located AND certified
    val learned = pqRecallOf(emb, ivfPqResidualTopKLearned(emb, 3, 2))
    val stride = pqRecallOf(emb, ivfPqResidualTopK(emb, 3, 2))
    info(s"IVFADC recall: learned=$learned rank-stride=$stride")
    assert(learned > 0.5, s"learned recall $learned collapsed")
  }

  test("nprobe curve: recall rises with probed cells on the clustered fixture; np=2 equals the one-point chain") {
    import Similarity._
    val emb = clusteredEmb
    val curve = ivfPqNprobeCurve(emb).as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    info(s"nprobe curve: ${curve.mkString(" ")}")
    assert(curve.map(_._1).toSeq === Seq(1L, 2L, 4L))
    // the knob must buy recall on the clustered geometry (neighbors
    // concentrate in the query's own + adjacent cells)
    assert(curve.last._3 >= curve.head._3,
      s"nprobe=4 recall below nprobe=1: $curve")
    assert(curve.last._3 > 0.5, "vacuous curve")
    // the np=2 point re-derives the certified one-point chain exactly
    val oneHits = topK(emb, queryVectors(emb), 3)
      .select(col("query_id"), col("vec_id"))
      .join(ivfPqResidualTopK(emb, 3, 2).select(col("query_id"), col("vec_id")),
        Seq("query_id", "vec_id"), "left_semi").count()
    assert(curve(1)._2 === oneHits)
  }

  test("IVF cell audit: landed-index readout == one-shot partition; fixture occupancy is the honest 16×16") {
    import Similarity._
    val emb = clusteredEmb
    val one = ivfCellAudit(emb).as[(Long, Long, Long, Double, Long, Double)]
      .collect()(0)
    // the clustered fixture places one fine centroid per tight cluster
    // (contiguous id blocks): 16 cells, mean exactly 16 — but the
    // centroids are SAMPLED members, so boundary vectors cross under
    // cosine assignment and mild skew is the honest readout (max 20,
    // top-4 share 0.30 vs the 0.25 a perfect split would give)
    assert(one === ((16L, 256L, 20L, 16.0, 77L, 0.30078125)))
    // the landed index's codes table reads back the SAME occupancy
    // (build+append inherit the frozen placement)
    val p = java.nio.file.Files.createTempDirectory("graft-ivfpq-audit").toString
    writeIvfPqStructures(emb, p)
    landIvfPqCodes(spark, p, emb.filter(col("vec_id") % 3 =!= 1))
    appendIvfPqIndex(spark, p, emb.filter(col("vec_id") % 3 === 1))
    val landed = ivfPqIndexCellAudit(spark, p)
      .as[(Long, Long, Long, Double, Long, Double)].collect()(0)
    assert(landed === one,
      "landed-index audit must equal the one-shot partition audit")
    // the drift readout: its with_increment side IS the full audit
    // (same frozen structures, whole corpus placed)
    val drift = ivfCellDrift(emb)
      .as[(String, Long, Long, Long, Double, Long, Double)].collect()
    assert(drift.map(_._1).toSeq === Seq("standing", "with_increment"))
    assert((drift(1)._2, drift(1)._3, drift(1)._4, drift(1)._5,
      drift(1)._6, drift(1)._7) === one,
      "with_increment must equal the one-shot audit")
    assert(drift(0)._3 < drift(1)._3, "standing side must be smaller")
  }

  test("PROPERTY: residual micro roundtrip recovers the integer difference exactly") {
    import org.scalacheck.Gen
    // the exactness claim the residual chain's hash certification rests
    // on: microQ((microQ(x) − microQ(c)) / 1e6) == microQ(x) − microQ(c)
    // — the residual column stores the scaled-back double, and the
    // downstream quantizer (pqSubspaces / PqEncode, both engines) must
    // recover the integer difference for ANY float pair an embedding
    // could carry (|roundtrip error| ≈ |diff|·2⁻⁵² ≪ ½)
    val genF = Gen.oneOf(
      Gen.choose(-1.0, 1.0),        // normalized embeddings
      Gen.choose(-1000.0, 1000.0),  // unnormalized feature scales
      Gen.oneOf(0.0, -0.0, 1e-9, -1e-9, 0.9999995, -0.9999995,
        999.9999994, -999.9999994))
    def micro(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    samples(Gen.listOfN(40, Gen.zip(genF, genF)), 30).flatten.foreach {
      case (xd, cd) =>
        val x = xd.toFloat
        val c = cd.toFloat
        val diff = micro(x.toDouble) - micro(c.toDouble)
        val resid = diff.toDouble / 1e6 // the stored residual component
        assert(micro(resid) === diff,
          s"roundtrip broke for x=$x c=$c diff=$diff resid=$resid")
    }
  }

  test("residual IVF-PQ index: build+append ≡ rebuilt-per-call; replayed append is a no-op") {
    import Similarity._
    val emb = clusteredEmb
    val p = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val isNew = col("vec_id") % 3 === 1
    // structures train on the full corpus (the answer-invariance
    // contract vs the rebuilt-per-call form); standing codes land at
    // build, the increment goes through the append path
    writeIvfPqStructures(emb, p)
    landIvfPqCodes(spark, p, emb.filter(!isNew))
    appendIvfPqIndex(spark, p, emb.filter(isNew))
    def probe() = ivfPqProbeIndex(spark, p, queryVectors(emb), 3, 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    val probed = probe()
    val rebuilt = ivfPqResidualTopK(emb, k = 3, nprobe = 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(probed.toSeq === rebuilt.toSeq,
      "the landed index must answer exactly like the rebuilt-per-call form")
    // replayed append: the identity-addressed batch dir already carries
    // _SUCCESS, so nothing lands twice
    appendIvfPqIndex(spark, p, emb.filter(isNew))
    assert(probe().toSeq === probed.toSeq,
      "probe answers must be unchanged after a replayed append")
    val codes = spark.read.parquet(s"$p/codes")
    assert(codes.count() === 256L &&
      codes.select("vec_id").distinct().count() === 256L,
      "every vector's codes landed exactly once")
  }

  test("a batch table with a bare part file beside its batch dirs fails the probe, naming the table") {
    import Similarity._
    import org.apache.commons.io.FileUtils
    val emb = clusteredEmb
    val p = java.nio.file.Files.createTempDirectory("graft-mixed-depth").toString
    writeIvfPqIndex(emb, p)
    // hand-build codes/: half the rows under batch=standing/, the other
    // half as a bare part file at the root — a layout whose partition
    // inference would serve only the batch rows
    val codes = spark.read.parquet(s"$p/codes").drop("batch")
    codes.filter(col("vec_id") % 2 === 0)
      .write.parquet(s"$p/staged/batch=standing")
    codes.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$p/staged/loose")
    FileUtils.deleteDirectory(new java.io.File(s"$p/codes"))
    FileUtils.moveDirectory(new java.io.File(s"$p/staged/batch=standing"),
      new java.io.File(s"$p/codes/batch=standing"))
    val part = new java.io.File(s"$p/staged/loose").listFiles()
      .find(_.getName.startsWith("part-")).get
    FileUtils.moveFile(part, new java.io.File(s"$p/codes/${part.getName}"))
    val err = intercept[IllegalArgumentException] {
      ivfPqProbeIndex(spark, p, queryVectors(emb), 3, 2).collect()
    }
    assert(err.getMessage.contains(s"$p/codes") &&
      err.getMessage.contains(part.getName), err.getMessage)
    FileUtils.deleteQuietly(new java.io.File(p))
  }

  test("residual IVF-PQ delete: masks one-shot and streaming probes immediately; replay no-op; rebuild applies and clears") {
    import Similarity._
    val emb = clusteredEmb
    val p = java.nio.file.Files.createTempDirectory("graft-ivfpq-del").toString
    writeIvfPqIndex(emb, p)
    val queries = queryVectors(emb)
    def probe() = ivfPqProbeIndex(spark, p, queries, 3, 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect().toSeq
    val before = probe()
    val victim = before.head._2
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    val after = probe()
    assert(!after.exists(_._2 == victim), "deleted vector still served")
    assert(after.map(_._1).distinct === before.map(_._1).distinct,
      "a delete must not lose queries — replacements promote")
    // replayed delete: identity-addressed no-op
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    assert(probe() === after)
    val delDirs = new java.io.File(s"$p/deletes")
      .listFiles().map(_.getName).filter(_.startsWith("batch=")).toSeq
    assert(delDirs.size === 1, s"replayed delete landed twice: $delDirs")
    // the streaming twin serves the MASKED view (its snapshot gate
    // covers the tombstone manifest)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-del-q")
    queries.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(queries.schema).parquet(s"$dir/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = streamingIvfPqSearch(spark, p, stream, k = 3, nprobe = 2) {
      (res, _) =>
        val rows = res.as[(Long, Long, Long, Double)].collect()
        got.synchronized { got ++= rows }; ()
    }
    try {
      assert(q.awaitTermination(120000), "streaming query did not finish")
      assert(got.sortBy(r => (r._1, r._3)).toSeq === after,
        "streaming twin must serve the tombstone-masked view")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
    // a rebuild over the post-takedown corpus APPLIES: tombstones
    // cleared with the codes, the victim gone physically
    writeIvfPqIndex(emb.filter(col("vec_id") =!= victim), p)
    assert(!new java.io.File(s"$p/deletes").exists(),
      "rebuild must clear the applied tombstones")
    val rebuilt = probe()
    assert(!rebuilt.exists(_._2 == victim))
    assert(spark.read.parquet(s"$p/codes")
      .filter(col("vec_id") === victim).count() === 0L,
      "rebuild must not re-land the deleted vector")
  }

  test("IndexJob.maintainIvfPq: a skewed append stream triggers exactly one rebuild; tombstones applied; probes green throughout") {
    import Similarity._
    val emb = clusteredEmb
    val standing = emb.filter(col("vec_id") < 200L)
    val p = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-retrain").toString
    writeIvfPqIndex(standing, p)
    def probe() = ivfPqProbeIndex(spark, p, queryVectors(standing), 3, 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect().toSeq
    // a takedown lands BEFORE the skew arrives: the rebuild the policy
    // eventually triggers must apply it
    val victim = probe().head._2
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    // skewed append stream: every batch's vectors sit in one tight
    // value cluster (deterministic), so they all place into the same
    // frozen cell and occupancy degrades monotonically until retrain
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    def skewBatch(b: Int) = (0 until 30).map { i =>
      (1000L + b * 100 + i,
        Array.tabulate(64)(d => base(d) + 0.01f * (b * 31 + i + d)))
    }.toDF("vec_id", "embedding")
    var corpus = standing
    var rebuilds = 0
    for (b <- 0 until 4) {
      val batch = skewBatch(b)
      appendIvfPqIndex(spark, p, batch)
      corpus = corpus.unionByName(batch)
      val served = probe()
      assert(served.nonEmpty, s"probe went dark at batch $b")
      assert(!served.exists(_._2 == victim),
        s"victim served at batch $b (${if (rebuilds > 0) "post" else "pre"}-rebuild)")
      val audit = ivfPqIndexCellAudit(spark, p).head()
      info(s"batch $b: top4_share=${audit.getAs[Double]("topk_share")} " +
        s"max/mean=${audit.getAs[Long]("max_occ")}/${audit.getAs[Double]("mean_occ")}")
      // budget sits between the healthy regime (this fixture reads
      // ~3.0× max/mean right after a retrain) and the degraded one
      // (4.4× after two skewed batches)
      if (IndexJob.maintainIvfPq(spark, corpus, p,
          RetrainPolicy(maxTopKShare = 0.6, maxOccRatio = 4.0))) rebuilds += 1
    }
    assert(rebuilds === 1,
      s"the skewed stream must trigger exactly one rebuild, got $rebuilds")
    // the rebuild applied the tombstone: cleared, physically absent,
    // and still unserved
    assert(!new java.io.File(s"$p/deletes").exists(),
      "rebuild must clear the applied tombstones")
    assert(spark.read.parquet(s"$p/codes")
      .filter(col("vec_id") === victim).count() === 0L,
      "rebuild must not re-land the deleted vector")
    assert(!probe().exists(_._2 == victim))
  }

  test("plain PQ index delete: masks immediately; replay no-op; rebuild applies and clears") {
    import Similarity._
    val emb = clusteredEmb
    val p = java.nio.file.Files.createTempDirectory("graft-pq-del").toString
    writePqIndex(emb, p)
    val queries = queryVectors(emb)
    def probe() = pqProbeIndex(spark, p, queries, 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect().toSeq
    val before = probe()
    val victim = before.head._2
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    val after = probe()
    assert(!after.exists(_._2 == victim), "deleted vector still served")
    assert(after.map(_._1).distinct === before.map(_._1).distinct,
      "a delete must not lose queries — replacements promote")
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    assert(probe() === after, "replayed delete must be a no-op")
    writePqIndex(emb.filter(col("vec_id") =!= victim), p)
    assert(!new java.io.File(s"$p/deletes").exists(),
      "rebuild must clear the applied tombstones")
    assert(!probe().exists(_._2 == victim))
  }

  test("plain IVF index delete: masks immediately; replay no-op; rebuild applies and clears") {
    import Similarity._
    val emb = clusteredEmb
    val p = java.nio.file.Files.createTempDirectory("graft-ivf-del").toString
    writeIvfIndex(emb, p)
    val queries = queryVectors(emb)
      .select(col("query_id"), col("q"))
    def probe() = ivfProbeIndex(spark, p, queries, 3, 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect().toSeq
    val before = probe()
    val victim = before.head._2
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    val after = probe()
    assert(!after.exists(_._2 == victim), "deleted vector still served")
    assert(after.map(_._1).distinct === before.map(_._1).distinct,
      "a delete must not lose queries — replacements promote")
    deleteIvfPqIndex(spark, p, Seq(victim).toDF("vec_id"))
    assert(probe() === after, "replayed delete must be a no-op")
    writeIvfIndex(emb.filter(col("vec_id") =!= victim), p)
    assert(!new java.io.File(s"$p/deletes").exists(),
      "rebuild must clear the applied tombstones")
    assert(!probe().exists(_._2 == victim))
  }

  test("streaming IVF-PQ serving masks a TORN tombstone landing (dir committed, manifest row lost)") {
    import Similarity._
    val emb = clusteredEmb
    val p = java.nio.file.Files.createTempDirectory("graft-ivfpq-torn").toString
    writeIvfPqIndex(emb, p)
    val queries = queryVectors(emb)
    def probe() = ivfPqProbeIndex(spark, p, queries, 3, 2)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect().toSeq
    val before = probe()
    val v1 = before.head._2
    val v2 = before.find(_._2 != v1).get._2
    // one CLEAN delete (dir + manifest row), then a TORN one: the
    // batch dir lands committed but the crash happens before its
    // manifest row — exactly the window where one-shot probes (which
    // scan physical dirs) already mask the victim; the stream's
    // delete gate lists physical dirs for the same reason, so the two
    // read paths must agree
    deleteIvfPqIndex(spark, p, Seq(v1).toDF("vec_id"))
    Seq(v2).toDF("vec_id").write.mode("overwrite")
      .parquet(s"$p/deletes/batch=torn")
    val masked = probe()
    assert(!masked.exists(r => r._2 == v1 || r._2 == v2),
      "one-shot probe must mask both the clean and the torn tombstone")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-torn-q")
    queries.coalesce(1).write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream.schema(queries.schema).parquet(s"$dir/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = streamingIvfPqSearch(spark, p, stream, k = 3, nprobe = 2) {
      (res, _) =>
        val rows = res.as[(Long, Long, Long, Double)].collect()
        got.synchronized { got ++= rows }; ()
    }
    try {
      assert(q.awaitTermination(120000), "streaming query did not finish")
      assert(got.sortBy(r => (r._1, r._3)).toSeq === masked,
        "the stream snapshot must see the torn tombstone a one-shot probe masks")
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("streaming IVF-PQ serving equals the one-shot landed-index probe") {
    import Similarity._
    val emb = clusteredEmb
    val p = java.nio.file.Files.createTempDirectory("graft-ivfpq-stream").toString
    writeIvfPqIndex(emb, p)
    // query micro-batches sliced one FILE per trigger (each id lands in
    // its own file via the partitionBy below) — the landed index is
    // frozen, so slicing cannot change answers
    val queries = queryVectors(emb)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-q")
    queries.withColumn("slice", col("query_id") % 2)
      .repartition(2, col("slice")).drop("slice")
      .write.mode("overwrite").parquet(s"$dir/in")
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .schema(queries.schema).parquet(s"$dir/in")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    val q = streamingIvfPqSearch(spark, p, stream, k = 3, nprobe = 2) {
      (res, _) =>
        val rows = res.as[(Long, Long, Long, Double)].collect()
        got.synchronized { got ++= rows }; ()
    }
    try {
      assert(q.awaitTermination(120000), "streaming query did not finish")
      val batch = ivfPqProbeIndex(spark, p, queries, 3, 2)
        .as[(Long, Long, Long, Double)].collect()
      assert(got.sortBy(r => (r._1, r._3)).toSeq ===
        batch.sortBy(r => (r._1, r._3)).toSeq,
        "streamed serving must equal the one-shot landed-index probe")
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("learned PQ codebook (integer-mean Lloyd): deterministic, recall >= the stride codebook") {
    import Similarity._
    val emb = clusteredEmb
    // determinism: two independent trainings agree codeword for
    // codeword — the integer-mean update (floor(Σ/n) in exact integer
    // arithmetic) is partitioning-independent, unlike float k-means
    def train() = pqCodebookLloyd(emb).orderBy("m", "j")
      .as[(Long, Long, Seq[Long])].collect().toSeq
    assert(train() === train())
    // Lloyd refinement must not lose recall vs the stride seed it
    // starts from (on this geometry it should strictly gain: stride
    // codewords are 16 whole training vectors — one per cluster — so
    // every cluster member encodes to near-ties, while learned means
    // pull codewords toward the actual sub-vector mass)
    val strideRecall = pqRecallOf(emb, pqTopK(emb, k = 3))
    val lloydRecall = pqRecallOf(emb, pqTopKLloyd(emb, k = 3))
    info(s"pq recall: stride=$strideRecall lloyd=$lloydRecall")
    assert(lloydRecall >= strideRecall,
      s"learned recall $lloydRecall must be >= stride recall $strideRecall")
    assert(lloydRecall > 0.5, s"learned recall $lloydRecall not vacuous")
  }

  // --- cluster-balanced diversity sampling ---

  test("cluster sample: at most perCell per cell, deterministic, covers every cell") {
    // 64 vectors in 4 tight direction clusters (c=8 fine centroids)
    val bases = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f),
      Array(0f, 0f, 1f, 0f), Array(0f, 0f, 0f, 1f))
    val emb = (0 until 64).map { i =>
      val b = bases(i % 4).clone(); b((i % 4 + 1) % 4) += 0.01f * (i / 4)
      (i.toLong, b)
    }.toDF("vec_id", "embedding")
    val per = 3
    val s1 = Similarity.clusterBalancedSample(emb, per)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val s2 = Similarity.clusterBalancedSample(emb, per)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(s1 === s2, "hash order must make the pick reshuffle-stable")
    val byCell = s1.groupBy(_._2)
    assert(byCell.values.forall(_.length <= per))
    // ranks are exactly 1..n within each cell
    assert(byCell.values.forall(g =>
      g.map(_._3).sorted.toSeq == (1L to g.length.toLong)))
    // every nonempty cell of the assignment is represented
    val cells = Similarity.ivfCellsTwoLevel(emb)
      .select("cell").as[Long].collect().toSet
    assert(byCell.keySet === cells,
      "balanced sampling must cover every cell, including sparse ones")
  }
}
