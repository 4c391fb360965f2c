package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{IndexStore, ServedTable}
import graft.operators.{Similarity, TextDedup}

/** The served index lifecycle's fixed per-call work: declared-schema
  * reads (no schema-inference job), the residual IVF-PQ probe and
  * append within a job budget, lean tombstone landing, and the dedup
  * compaction's tag-bounded tombstone broadcast. */
class IndexServingSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  /** 256 vectors in 16 tight clusters of 64 dims, as local rows. */
  private def clusteredEmb: DataFrame = {
    val rnd = new scala.util.Random(42)
    val bases = Array.fill(16)(Array.fill(64)(rnd.nextGaussian().toFloat))
    (0 until 256).map { i =>
      val b = bases(i / 16)
      (i.toLong, Array.tabulate(64)(d => b(d) + 0.2f * rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (3L, "an entirely different sentence about legislative budgets and bills"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5L, "an entirely different sentence about legislative budgets and bills here"))
    .toDF("doc_id", "text")

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** One job seen by [[jobsOf]]: its stage names and whether it ran
    * inside a SQL execution. */
  private final case class Job(stages: Seq[String], inSql: Boolean) {
    /** A parquet schema-inference job: the footer-merging job
      * `spark.read.parquet` starts outside any SQL execution, named
      * after the `parquet` call. (A parquet WRITE also carries that
      * name, but always runs inside its execution.) */
    def infersSchema: Boolean = !inSql && stages.exists(_.startsWith("parquet at"))
  }

  /** The jobs `body` starts, in order. A marker job closes the window:
    * listener events arrive in order, so once its start is seen every
    * job of `body` has been seen too. */
  private def jobsOf(body: => Unit): Seq[Job] = {
    val group = s"index-serving-${System.nanoTime()}"
    val marker = s"$group-marker"
    val seen = new ConcurrentLinkedQueue[(String, Job)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        g.foreach(id => seen.add(id -> Job(e.stageInfos.map(_.name),
          props.exists(_.getProperty("spark.sql.execution.id") != null))))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "index serving spec")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_._1 == marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.asScala.exists(_._1 == marker), "listener never saw the marker job")
      seen.asScala.collect { case (`group`, j) => j }.toSeq
    } finally sc.removeSparkListener(listener)
  }

  /** The Dataset actions `body` runs, by name ("count", "collect", …),
    * from a [[org.apache.spark.sql.util.QueryExecutionListener]]. The
    * window closes at a marker query whose one output column carries a
    * fresh name no body query can produce; listener events arrive in
    * completion order, so every event before the marker's is the body's. */
  private def actionsOf(body: => Unit): Seq[String] = {
    val marker = s"actions_marker_${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[(String, Boolean)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        seen.add(f -> qe.analyzed.output.exists(_.name == marker)); ()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_._2) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val all = seen.asScala.toSeq
      assert(all.exists(_._2), "listener never saw the marker action")
      all.takeWhile(!_._2).map(_._1)
    } finally spark.listenerManager.unregister(listener)
  }

  test("a landed IVF-PQ probe and append run no schema-inference job, within a job budget") {
    val emb = clusteredEmb
    val isNew = col("vec_id") % 10 === 3
    val p = tmp("graft-ivfpq-jobs")
    Similarity.writeIvfPqIndex(emb.filter(!isNew), p)
    Similarity.deleteIvfPqIndex(spark, p, Seq(7L).toDF("vec_id"))
    val queries = Similarity.queryVectors(emb)
    // local inputs, so every job below belongs to the call itself
    val probeJobs = jobsOf {
      Similarity.ivfPqProbeIndex(spark, p, queries, 3).collect(); ()
    }
    assert(!probeJobs.exists(_.infersSchema),
      s"the probe inferred a landed table's schema: $probeJobs")
    assert(probeJobs.size <= 12, s"probe ran ${probeJobs.size} jobs: $probeJobs")
    // planned queries: the trained state's one collect and the answer's
    // own; the quantizer and the codebook are built from the state rows
    // on the driver, with no further collect
    val probeQueries = actionsOf {
      Similarity.ivfPqProbeIndex(spark, p, queries, 3).collect(); ()
    }
    assert(probeQueries.size <= 2,
      s"probe planned ${probeQueries.size} queries: $probeQueries")
    val appendJobs = jobsOf(Similarity.appendIvfPqIndex(spark, p, emb.filter(isNew)))
    assert(!appendJobs.exists(_.infersSchema),
      s"the append inferred a landed table's schema: $appendJobs")
    assert(appendJobs.size <= 7, s"append ran ${appendJobs.size} jobs: $appendJobs")
    // a replayed append lands nothing, but it plans what every append
    // does: the trained state's one collect and the batch tag's
    val replayQueries = actionsOf(Similarity.appendIvfPqIndex(spark, p, emb.filter(isNew)))
    assert(replayQueries.size <= 2,
      s"append planned ${replayQueries.size} queries: $replayQueries")
    // the served answer is the one-shot chain's, minus the tombstone
    val got = Similarity.ivfPqProbeIndex(spark, p, queries, 3)
      .orderBy("query_id", "rk").as[(Long, Long, Long, Double)].collect()
    assert(got.nonEmpty && !got.exists(_._2 == 7L))
  }

  test("each declared served-table schema equals the inferred schema of a freshly landed table") {
    val emb = clusteredEmb
    val ivf = tmp("graft-ivfpq-drift")
    Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 10 =!= 3), ivf)
    Similarity.appendIvfPqIndex(spark, ivf, emb.filter(col("vec_id") % 10 === 3))
    Similarity.deleteIvfPqIndex(spark, ivf, Seq(5L, 9L).toDF("vec_id"))
    val dedup = tmp("graft-dedup-drift")
    TextDedup.writeDedupIndex(docs, dedup)
    TextDedup.deleteDedupIndex(spark, dedup, Seq(2L).toDF("doc_id"))
    val live = IndexStore.currentIndexDir(spark, dedup)
    val tables: Seq[(ServedTable, String)] = Seq(
      Similarity.IvfPqCodes -> ivf,
      Similarity.IvfPqStateTable -> ivf,
      IndexStore.idTable("deletes", "vec_id") -> ivf,
      TextDedup.DedupSets -> live,
      TextDedup.DedupBands -> live,
      IndexStore.idTable("deletes", "doc_id") -> live)
    tables.foreach { case (t, root) =>
      val inferred = spark.read.parquet(t.dir(root)).drop("batch").schema
      assert(t.schema === inferred, s"${t.dir(root)} drifted from its declaration")
    }
    // and a landing whose rows drift fails before it writes
    val e = intercept[IllegalArgumentException](
      TextDedup.DedupBands.conform(Seq((1L, 2L, "x")).toDF("doc_id", "band", "sig")))
    assert(e.getMessage.contains("bands"))
  }

  test("a tombstone batch lands its ids as given, in one file, replay-idempotent") {
    val p = tmp("graft-tomb-lean")
    val ids = spark.range(0, 40, 1, 4).select(col("id").as("vec_id"))
      .unionByName(Seq(3L, 3L).toDF("vec_id"))
    IndexStore.landTombstones(ids, p, "vec_id")
    IndexStore.landTombstones(ids, p, "vec_id")
    val dirs = new java.io.File(IndexStore.deletesDir(p)).listFiles()
      .filter(_.getName.startsWith("batch=")).toSeq
    assert(dirs.map(_.getName) === Seq("batch=n42_h" + dirs.head.getName
      .stripPrefix("batch=n42_h")), s"one batch, counted as given: $dirs")
    assert(dirs.head.listFiles().count(_.getName.endsWith(".parquet")) === 1)
    assert(IndexStore.rowBound(spark, IndexStore.deletesDir(p)) === Some(42L))
    val read = IndexStore.idsIn(spark, IndexStore.deletesDir(p), "vec_id").get
      .as[Long].collect().sorted.toSeq
    assert(read === (0L until 40L))
  }

  test("two different tombstone batches that repeat ids both land and mask their ids") {
    // under an XOR fold each repeated pair cancels: both batches would
    // tag n4_h0 and the second be skipped as a replay
    val p = tmp("graft-tomb-dups")
    val dir = IndexStore.deletesDir(p)
    IndexStore.landTombstones(Seq(1L, 1L, 2L, 2L).toDF("vec_id"), p, "vec_id")
    IndexStore.landTombstones(Seq(3L, 3L, 4L, 4L).toDF("vec_id"), p, "vec_id")
    assert(IndexStore.batchDirTags(spark, dir).size === 2)
    // a replay of the same multiset, in any order, is still a no-op
    IndexStore.landTombstones(Seq(4L, 3L, 4L, 3L).toDF("vec_id"), p, "vec_id")
    assert(IndexStore.batchDirTags(spark, dir).size === 2)
    val rows = Seq(1L, 2L, 3L, 4L, 5L).toDF("vec_id")
    assert(IndexStore.withoutIdsIn(rows, dir, "vec_id").as[Long].collect().toSeq
      === Seq(5L))
  }

  test("compactDedupIndex bounds the tombstone broadcast from the tags, counting only an uncounted batch") {
    val path = tmp("graft-dedup-bound")
    def members = TextDedup.dedupIndexSets(spark, path)
      .select(explode(col("members"))).as[Long].collect().toSet
    TextDedup.writeDedupIndex(docs, path)
    TextDedup.deleteDedupIndex(spark, path, Seq(2L).toDF("doc_id"))
    // every tombstone batch carries its count: no count job
    val tagged = actionsOf(TextDedup.compactDedupIndex(spark, path))
    assert(!tagged.contains("count"), s"a tag-bounded compact counted: $tagged")
    assert(members === Set(1L, 3L, 4L, 5L))
    // the manifest carries the compacted tags: still bounded
    TextDedup.deleteDedupIndex(spark, path, Seq(4L).toDF("doc_id"))
    val live = IndexStore.currentIndexDir(spark, path)
    assert(IndexStore.rowBound(spark, IndexStore.deletesDir(live)) === Some(2L))
    // a hand-landed batch carries no count: the compact counts
    Seq(5L).toDF("doc_id").write.parquet(s"${IndexStore.deletesDir(live)}/batch=torn")
    assert(IndexStore.rowBound(spark, IndexStore.deletesDir(live)) === None)
    val torn = actionsOf(TextDedup.compactDedupIndex(spark, path))
    assert(torn.count(_ == "count") === 1, s"an uncounted batch must be counted: $torn")
    assert(members === Set(1L, 3L))
  }
}
