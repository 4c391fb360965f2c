package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{JobConfig, Jobs}
import graft.operators.FullText
import graft.sources.Fixtures

/** The reference's own workload: land a raw LegiScan pull, then run the
  * three pipelines through [[graft.Jobs]]. Many small files and small
  * jobs; no vector or index code runs. */
final class LegisEtl(spark: SparkSession, work: Path, seed: Long)
    extends Workload(spark, work, seed) {
  val Passes = 2
  val cfg = JobConfig(searchTerms = Seq("affordab", "cost"),
    fullTextTerms = Seq("appropriation", "education", "water"))
  val budgetCfg = cfg.copy(budgetOnly = true)

  // Fixtures.root is read once from GRAFT_FIXTURES, which run.py points
  // into this run's work dir; the generated tree is written there.
  val root: Path = Paths.get(Fixtures.root)
  private var in: LegisInputs = _
  private val results = mutable.ArrayBuffer.empty[(String, Seq[String])]

  def items: Long = Passes.toLong * in.bills.size

  def setup(tr: Tracer): Unit = {
    require(root.startsWith(work), s"GRAFT_FIXTURES=$root is outside $work")
    in = LegisGen.generate(seed)
    LegisGen.write(in, root)
  }

  private def land(tr: Tracer): Unit = {
    def to(name: String) = s"$root/$name.parquet"
    tr.span("sources.Fixtures.billsJson") {
      Fixtures.billsJson(spark).write.mode("overwrite").parquet(to("bills")) }
    tr.span("sources.Fixtures.peopleJson") {
      Fixtures.peopleJson(spark).write.mode("overwrite").parquet(to("people")) }
    tr.span("sources.Fixtures.sbudFromPdf") {
      Fixtures.sbudFromPdf(spark).write.mode("overwrite").parquet(to("sbud")) }
  }

  private def pass(ops: Ops, tr: Tracer): Unit = {
    ops.run("land")(land(tr))
    ops.run("bill_search")(tr.span("operators.BillSearch.search") {
      Jobs.billSearch(spark, cfg).collect() })
      .foreach(rs => results += "bill_search" -> rs.toSeq.map(Workload.show))
    ops.run("legislator_counts")(tr.span("operators.LegislatorCounts.counts") {
      Jobs.legislatorCounts(spark, cfg).collect() })
      .foreach(rs => results += "legislator_counts" -> rs.toSeq.map(Workload.show))
    ops.run("full_text")(tr.span("operators.FullText.search") {
      Jobs.fullTextSearch(spark, budgetCfg).collect() })
      .foreach(rs => results += "full_text" ->
        rs.toSeq.map(r => s"${r.getAs[String]("term")}|${r.getAs[String]("file")}"))
  }

  def warmupUnit(k: Int): Unit = pass(new Ops, new Tracer(spark, "warmup"))

  def timedPhase(ops: Ops, tr: Tracer, tag: String): Unit =
    (1 to Passes).foreach(_ => pass(ops, tr))

  override def standalone(tr: Tracer): Unit =
    tr.span("operators.FullText.corpusFromBinary") {
      Workload.noop(FullText.corpusFromBinary(spark)) }

  // ---------------------------------------------------------------- //
  // Ground truth, from the generator's own records
  // ---------------------------------------------------------------- //

  def expectedBillSearch: Seq[String] = in.bills.filter(b =>
    cfg.searchTerms.exists(t => b.title.contains(t) || b.description.contains(t)))
    .map { b =>
      val link = b.texts.headOption.map(_.link.replaceAll("#.+$", "")).orNull
      Seq(b.number, LegisGen.sessionName(b.sessIdx), b.status, link, b.title,
        b.description).map(String.valueOf).mkString("|")
    }

  def expectedCounts: Seq[String] = {
    val label = LegisGen.sessionLabel _
    val latest = in.people.groupBy(_.peopleId).values
      .map(_.maxBy(p => label(p.sessIdx))).toSeq
    val known = latest.map(_.peopleId).toSet
    val credits = mutable.Map.empty[(Long, Int), Long].withDefaultValue(0L)
    in.bills.filter(b => b.billType == "B" && b.status == 4).foreach { b =>
      val prim = b.sponsors.filter(_.typeId == 1).map(_.peopleId).distinct
        .filter(known)
      val ids = if (prim.nonEmpty) prim
        else b.sponsors.take(1).map(_.peopleId).filter(known)
      ids.foreach(id => credits((id, b.sessIdx)) += 1)
    }
    latest.filter(_.committeeId == 0).map { p =>
      val s = LegisGen.sessions.indices.map(i => credits((p.peopleId, i)))
      val total = s.sum
      val years = s.count(_ > 0) * 2
      val perYear = if (years == 0) Double.NaN else total.toDouble / years
      (Seq(p.name, if (p.role == "Rep") "Asm" else p.role,
        p.district.replaceAll("^HD-", "AD-")) ++ s.map(_.toString) ++
        Seq(total.toString, years.toString, perYear.toString)).mkString("|")
    }
  }

  def expectedFullText: Seq[String] = {
    val budget = in.budgetBills
    in.pages.filter { p =>
      val y = p.file.take(4).toInt
      budget((y, p.file.drop(5).stripSuffix(".html")))
    }.flatMap(p => budgetCfg.fullTextTerms
      .filter(t => p.text.toLowerCase.contains(t)).map(t => s"$t|${p.file}"))
  }

  def verify(): Seq[String] = {
    val want = Map("bill_search" -> expectedBillSearch,
      "legislator_counts" -> expectedCounts, "full_text" -> expectedFullText)
    val empty = want.collect { case (k, w) if w.isEmpty => s"$k: empty ground truth" }
    val landedBudget = FullText.budgetBills(Fixtures.sbud(spark)).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    empty.toSeq ++
      Workload.sameMultiset("sbud from PDF", landedBudget.map(_.toString),
        in.budgetBills.toSeq.map(_.toString)) ++
      results.flatMap { case (k, got) => Workload.sameMultiset(k, got, want(k)) }
  }
}
