package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextDedup}
import graft.tables.Tables

object IndexServe {
  val Standing = 2000
  val Increment = 200
  val Takedown = 40
  val ProbeDocs = 40
  val Queries = 20
  val K = 10
  val Cycles = 2
  val ProbesPerCycle = 1
  val CompactEvery = 1
  /** Floor on top-10 recall against exact search over the live set. */
  val RecallFloor = 0.25

  final case class Probe(tag: String, docs: IndexedSeq[Doc],
                         queries: IndexedSeq[(Long, Array[Float])])

  /** Everything the schedule feeds the program, from the seed alone. */
  final case class Inputs(standing: CorpusGen.Corpus,
                          incs: IndexedSeq[CorpusGen.Corpus],
                          deletes: IndexedSeq[Seq[Long]],
                          probes: IndexedSeq[Probe]) {
    def deletedBy(c: Int): Set[Long] = deletes.take(c + 1).flatten.toSet
    def liveDocs(c: Int): IndexedSeq[Doc] = {
      val gone = deletedBy(c)
      (standing.docs ++ incs.take(c + 1).flatMap(_.docs)).filterNot(d => gone(d.doc_id))
    }
    def liveVecs(c: Int): IndexedSeq[Vec] = {
      val gone = deletedBy(c)
      (standing.vecs ++ incs.take(c + 1).flatMap(_.vecs)).filterNot(v => gone(v.vec_id))
    }
    def digest: String = {
      val d = new Digest
      (standing +: incs).foreach(c => d.add(c.digest))
      deletes.foreach(ids => d.add(ids.mkString(",") + "\n"))
      probes.foreach { p =>
        p.docs.foreach(x => d.add(s"${p.tag}\t${x.doc_id}\t${x.text}\n"))
        p.queries.foreach(q => d.add(s"${q._1}\t${q._2.mkString(",")}\n"))
      }
      d.hex
    }
  }

  def generate(seed: Long): Inputs = {
    val rng = new Rng(seed ^ 0x53657276L)
    val standing = CorpusGen.generate(seed, Standing, 0L, 2L)
    val incs = (0 until Cycles).map(c =>
      CorpusGen.generate(seed, Increment, 10000000L + c * 1000000L, 100L + c))
    // takedowns: standing docs plus some of the cycle's own admits
    val gone = mutable.Set.empty[Long]
    val deletes = (0 until Cycles).map { c =>
      val pool = standing.docs.map(_.doc_id) ++ incs(c).docs.map(_.doc_id)
      val picked = Iterator.continually(pool(rng.nextInt(pool.size)))
        .filterNot(gone).distinct.take(Takedown).toList
      gone ++= picked
      picked
    }
    val in = Inputs(standing, incs, deletes, IndexedSeq.empty)
    // probes: exact copies, one-token edits and fresh text of live docs;
    // queries: jittered copies of live vectors
    val probes = for (c <- 0 until Cycles; j <- 0 until ProbesPerCycle) yield {
      val live = in.liveDocs(c)
      val liveV = in.liveVecs(c)
      val fresh = CorpusGen.generate(seed, ProbeDocs, 0L, 1000L + c * 10 + j).docs
      val docs = (0 until ProbeDocs).map { i =>
        val src = live(rng.nextInt(live.size))
        val text = i % 3 match {
          case 0 => src.text
          case 1 =>
            val t = src.text.split(" ")
            t(rng.nextInt(t.length)) = "edited"; t.mkString(" ")
          case _ => fresh(i).text
        }
        Doc(50000000L + c * 10000L + j * 1000L + i, text, src.lang, src.source,
          text.length.toLong)
      }
      val qs = (0 until Queries).map { i =>
        val v = liveV(rng.nextInt(liveV.size))
        (60000000L + c * 10000L + j * 1000L + i,
          v.embedding.map(x => (x + 0.05 * rng.gauss()).toFloat))
      }
      Probe(s"$c-$j", docs, qs)
    }
    in.copy(probes = probes)
  }
}

/** Serve a standing corpus from persisted indexes: set-up builds the
  * dedup and residual IVF-PQ indexes; the timed schedule runs cycles of
  * one admit (append to both), one takedown (delete from both) and
  * small dedup and top-10 ANN probes, compacting the dedup index every
  * [[IndexServe.CompactEvery]] cycles. Every schedule starts from a
  * fresh copy of the standing indexes. */
final class IndexServe(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work, seed) {
  import IndexServe._

  private val inputs = work.resolve("inputs")
  private val standingRoot = work.resolve("standing")
  private var in: Inputs = _

  def items: Long = Cycles * (2L + 2L * ProbesPerCycle) + Cycles / CompactEvery

  private def at(name: String): String = inputs.resolve(name).toString
  // increments, probes, queries and takedowns: one table per kind,
  // partitioned by the cycle (and probe) they belong to
  private def incDocs(c: Int) = spark.read.parquet(at(s"docs/part=inc$c"))
  private def incVecs(c: Int) = spark.read.parquet(at(s"vecs/part=inc$c"))
  private def probeDocs(c: Int, j: Int) = spark.read.parquet(at(s"docs/part=probe$c-$j"))
  private def queries(c: Int, j: Int) = spark.read.parquet(at(s"queries/part=$c-$j"))
  private def takedown(c: Int) = spark.read.parquet(at(s"deletes/part=$c"))
  private def standingDocs = Tables.documents(spark, at("standing"))
  private def standingVecs = Tables.embeddings(spark, at("standing"))

  def setup(tr: Tracer): Unit = {
    import spark.implicits._
    in = generate(seed)
    Main.log("inputs generated")
    in.standing.docs.toDF().write.parquet(at("standing/documents.parquet"))
    in.standing.vecs.toDF().write.parquet(at("standing/embeddings.parquet"))
    val docParts = in.incs.zipWithIndex.map { case (c, i) => (s"inc$i", c.docs) } ++
      in.probes.map(p => (s"probe${p.tag}", p.docs))
    docParts.map { case (p, ds) => ds.toDF().withColumn("part", lit(p)) }
      .reduce(_ unionByName _).write.partitionBy("part").parquet(at("docs"))
    in.incs.zipWithIndex.map { case (c, i) => c.vecs.toDF().withColumn("part", lit(s"inc$i")) }
      .reduce(_ unionByName _).write.partitionBy("part").parquet(at("vecs"))
    in.probes.flatMap(p => p.queries.map(q => (p.tag, q._1, q._2)))
      .toDF("part", "query_id", "q").write.partitionBy("part").parquet(at("queries"))
    in.deletes.zipWithIndex.flatMap { case (ids, c) => ids.map(i => (c, i)) }
      .toDF("part", "doc_id").write.partitionBy("part").parquet(at("deletes"))
    Main.log("inputs landed")
    tr.span("operators.TextDedup.writeDedupIndex") {
      TextDedup.writeDedupIndex(standingDocs, standingRoot.resolve("dedup").toString) }
    Main.log("dedup index built")
    tr.span("operators.Similarity.writeIvfPqIndex") {
      Similarity.writeIvfPqIndex(standingVecs, standingRoot.resolve("ivfpq").toString) }
  }

  // answers of every probe, by (schedule root, cycle, probe)
  private val dedupAnswers = mutable.LinkedHashMap.empty[(String, Int, Int), Seq[Row]]
  private val annAnswers = mutable.LinkedHashMap.empty[(String, Int, Int), Seq[Row]]
  private val compactRatios = mutable.ArrayBuffer.empty[Double]
  private var lastRoot: Path = _

  private def liveVersion(dedup: Path): Path = {
    val s = Files.list(dedup)
    try s.iterator().asScala.filter(p => p.getFileName.toString.matches("v[0-9]+") &&
      Files.exists(p.resolve("_COMMITTED"))).maxBy(_.getFileName.toString)
    finally s.close()
  }

  private def cycle(ops: Ops, tr: Tracer, root: Path, c: Int, probes: Int,
                    compact: Boolean): Unit = {
    val dedup = root.resolve("dedup").toString
    val ivf = root.resolve("ivfpq").toString
    ops.run("append") {
      tr.span("operators.TextDedup.appendDedupIndex") {
        TextDedup.appendDedupIndex(spark, dedup, incDocs(c)) }
      tr.span("operators.Similarity.appendIvfPqIndex") {
        Similarity.appendIvfPqIndex(spark, ivf, incVecs(c)) }
    }
    ops.run("delete") {
      tr.span("operators.TextDedup.deleteDedupIndex") {
        TextDedup.deleteDedupIndex(spark, dedup, takedown(c)) }
      tr.span("operators.Similarity.deleteIvfPqIndex") {
        Similarity.deleteIvfPqIndex(spark, ivf,
          takedown(c).select(col("doc_id").as("vec_id"))) }
    }
    for (j <- 0 until probes) {
      ops.run("dedup_probe")(tr.span("operators.TextDedup.dedupProbeIndex") {
        TextDedup.dedupProbeIndex(spark, dedup, probeDocs(c, j)).collect()
      }).foreach(rs => dedupAnswers((root.toString, c, j)) = rs.toSeq)
      ops.run("ann_probe")(tr.span("operators.Similarity.ivfPqProbeIndex") {
        Similarity.ivfPqProbeIndex(spark, ivf, queries(c, j), K).collect()
      }).foreach(rs => annAnswers((root.toString, c, j)) = rs.toSeq)
    }
    if (compact) {
      val before = Workload.bytes(liveVersion(root.resolve("dedup")))
      ops.run("compact")(tr.span("operators.TextDedup.compactDedupIndex") {
        TextDedup.compactDedupIndex(spark, dedup) })
      compactRatios += Workload.bytes(liveVersion(root.resolve("dedup"))).toDouble / before
    }
  }

  private def freshRoot(name: String): Path = {
    val root = work.resolve(name)
    Workload.copyTree(standingRoot, root)
    root
  }

  def warmupUnit(k: Int): Unit =
    cycle(new Ops, new Tracer(spark, "warmup"), freshRoot(s"warmup-$k"), 0,
      probes = 1, compact = true)

  def timedPhase(ops: Ops, tr: Tracer, tag: String): Unit = {
    val root = freshRoot(tag)
    for (c <- 0 until Cycles)
      cycle(ops, tr, root, c, ProbesPerCycle, (c + 1) % CompactEvery == 0)
    lastRoot = root
  }

  /** The curation chain over the standing snapshot, traced runs only:
    * its layers get spans without a timed workload of their own. */
  override def standalone(tr: Tracer): Unit = {
    val dir = fresh("curate").toString
    CurateChain.pass(standingDocs, standingVecs, dir, new Ops, tr)
    CurateChain.kernels(standingDocs, dir, tr)
  }

  private var recall = Double.NaN

  def verify(): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    // every ANN answer: no vector deleted by then
    annAnswers.foreach { case ((_, c, j), rows) =>
      val gone = in.deletedBy(c)
      val hit = rows.map(_.getAs[Long]("vec_id")).filter(gone)
      if (hit.nonEmpty) failures += s"ann probe $c-$j returned deleted ${hit.take(3)}"
    }
    // the first probe of the last cycle, on every schedule that ran it:
    // dedup answers equal the in-memory cross-corpus pairs over the live
    // set, ANN answers are scored against exact top-K over it
    val recalls = mutable.ArrayBuffer.empty[Double]
    val c = Cycles - 1
    val gone = in.deletedBy(c).toSeq
    val docs = (standingDocs +: (0 to c).map(incDocs)).reduce(_ unionByName _)
      .filter(!col("doc_id").isin(gone: _*))
    val want = TextDedup.crossCorpusPairs(probeDocs(c, 0), docs)
      .collect().map(Workload.show).toSeq
    dedupAnswers.collect { case ((r, `c`, 0), got) =>
      failures ++= Workload.sameMultiset(s"dedup probe $c-0 on $r",
        got.map(Workload.show), want)
    }
    val vecs = (standingVecs +: (0 to c).map(incVecs)).reduce(_ unionByName _)
      .filter(!col("vec_id").isin(gone: _*))
    val exact = Similarity.topK(vecs, queries(c, 0), K).collect()
      .groupMap(_.getAs[Long]("query_id"))(_.getAs[Long]("vec_id"))
    annAnswers.collect { case ((_, `c`, 0), got) =>
      val byQ = got.groupMap(_.getAs[Long]("query_id"))(_.getAs[Long]("vec_id"))
      exact.foreach { case (q, ids) =>
        recalls += byQ.getOrElse(q, Nil).count(ids.toSet).toDouble / ids.size }
    }
    recall = recalls.sum / recalls.size
    if (!(recall >= RecallFloor))
      failures += f"ann recall@$K $recall%.3f below the floor $RecallFloor"
    failures.toSeq
  }

  override def layer(): Map[String, Double] = {
    val live = in.liveDocs(Cycles - 1).size.toDouble
    Map("index.files" -> Workload.files(lastRoot).size.toDouble,
      "index.bytes_per_live_doc" -> Workload.bytes(lastRoot) / live,
      "compact.bytes_rewritten" -> compactRatios.sum / compactRatios.size,
      "ann.recall_at_10" -> recall)
  }
}
