package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curate, MemoLedger, TextDedup, TextStats, TrainPrep}
import graft.tables.Tables

object CurateBatch {
  val Docs = 4000
  val Passes = 2
}

/** Curate a new corpus snapshot: land the CDC index, run the v8 chain
  * against it, pack the survivors into training shards and take their
  * manifest. Every pass pays its own near-duplicate and CDC work: the
  * calls are memo-free and every pass writes to fresh paths. */
final class CurateBatch(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work, seed) {
  import CurateBatch._

  private val corpusDir = work.resolve("corpus").toString
  private var reference: String = _
  private val landed = mutable.ArrayBuffer.empty[String]
  private val manifests = mutable.ArrayBuffer.empty[Seq[String]]
  private var memoBuilds = 0

  def items: Long = Passes.toLong * Docs

  private def docs = Tables.documents(spark, corpusDir)
  private def emb = Tables.embeddings(spark, corpusDir)

  def setup(tr: Tracer): Unit = {
    import spark.implicits._
    val c = CorpusGen.generate(seed, Docs, 0L, 1L)
    c.docs.toDF().write.parquet(s"$corpusDir/documents.parquet")
    c.vecs.toDF().write.parquet(s"$corpusDir/embeddings.parquet")
    // the one-shot, memo-free chain the landed output must equal
    reference = Workload.checksum(Curate.curateV8(docs, emb))
  }

  private var passNo = 0
  private def pass(ops: Ops, tr: Tracer, tag: String): Unit = {
    passNo += 1
    val dir = fresh(s"$tag-$passNo").toString
    val memo0 = MemoLedger.snapshot
    CurateChain.pass(docs, emb, dir, ops, tr).foreach(manifests += _)
    val memo1 = MemoLedger.snapshot
    memoBuilds += memo1.count { case (k, v) => !memo0.get(k).contains(v) }
    landed += dir
  }

  def warmupUnit(k: Int): Unit = pass(new Ops, new Tracer(spark, "warmup"), "warmup")

  def timedPhase(ops: Ops, tr: Tracer, tag: String): Unit =
    (1 to Passes).foreach(_ => pass(ops, tr, tag))

  override def standalone(tr: Tracer): Unit = CurateChain.kernels(docs, landed.last, tr)

  override def layer(): Map[String, Double] =
    Map("memo.builds" -> memoBuilds.toDouble / landed.size)

  def verify(): Seq[String] = {
    val sums = landed.toSeq.map(d => Workload.checksum(spark.read.parquet(s"$d/curated")))
    sums.zip(landed).collect { case (s, d) if s != reference =>
      s"curated output $d checksum $s != one-shot curateV8 $reference" } ++
      (if (manifests.distinct.size == 1) Nil
       else Seq(s"shard manifest differs across ${manifests.size} passes"))
  }
}

/** The curation chain both corpus workloads run: memo-free calls, fresh
  * output paths. */
object CurateChain {
  /** Land the CDC index, the v8 emit and its packed shards under `dir`;
    * returns the shard manifest, sorted. */
  def pass(docs: DataFrame, emb: DataFrame, dir: String, ops: Ops,
           tr: Tracer): Option[Seq[String]] = {
    val spark = docs.sparkSession
    ops.run("cdc_index")(tr.span("operators.TrainPrep.writeCdcIndex") {
      TrainPrep.writeCdcIndex(docs, s"$dir/cdc") })
    ops.run("curate")(tr.span("operators.Curate.curateV8With") {
      val banned = TrainPrep.cdcIndexBoilerplate(spark, s"$dir/cdc").select(col("fp"))
      val nearDrop = TextDedup.minhashPairs(docs)
        .select(col("doc_b").as("doc_id")).distinct()
      Curate.curateV8With(docs, emb, nearDrop, banned)
        .write.parquet(s"$dir/curated")
    })
    ops.run("shards")(tr.span("operators.Curate.trainShardsFromEmit") {
      val curated = spark.read.parquet(s"$dir/curated")
      Curate.trainShardsFromEmit(
          curated.select(col("doc_id"), col("n_tokens").as("n_after")))
        .write.parquet(s"$dir/shards")
      Curate.manifestOf(spark.read.parquet(s"$dir/shards")).collect()
    }).map(_.toSeq.map(Workload.show).sorted)
  }

  /** The chain's kernels, each materialised on its own (traced runs):
    * their sum against the composed pass shows the work it shares. */
  def kernels(docs: DataFrame, dir: String, tr: Tracer): Unit = {
    val banned = TrainPrep.cdcIndexBoilerplate(docs.sparkSession, s"$dir/cdc")
      .select(col("fp"))
    import Workload.noop
    tr.span("operators.TextDedup.minhashPairs")(noop(TextDedup.minhashPairs(docs)))
    tr.span("operators.TrainPrep.cdcStripAgainst")(
      noop(TrainPrep.cdcStripAgainst(docs, banned)))
    tr.span("operators.TextStats.qualityFeatures")(
      noop(TextStats.qualityFeatures(docs)))
  }
}
