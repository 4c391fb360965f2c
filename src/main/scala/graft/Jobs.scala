package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{BillSearch, FullText, LegislatorCounts}
import graft.sources.Fixtures

/** Typed job parameters — the reference's script-header user-parameter
  * block (`legiscan_main.R:41-52`, `legiscan_search_all_bills.R:43-53`,
  * `legislator_bill_counts_run.R:44-46`) as one immutable config object
  * carried into the pipelines, instead of global mutable script state
  * (SURVEY §2.8).
  *
  * `forceDownload` / `chapteredOnly` govern the driver-side ingest jobs
  * (`LegiScanIngest.pullSession(force = ...)` and which text versions
  * `pullBillText` fetches); the remaining flags parameterize the cluster
  * queries below.
  */
case class JobConfig(
    searchTerms: Seq[String] = BillSearch.defaultTerms,
    fullTextTerms: Seq[String] = FullText.defaultTerms,
    allBills: Boolean = false,
    budgetOnly: Boolean = false,
    chapteredOnly: Boolean = true,
    sessions: Option[Seq[String]] = None, // "YYYY-YYYY" labels; None = all
    saveName: String = "graft",
    forceDownload: Boolean = false)

/** Config-driven runners for the three reference pipelines. Each is the
  * corresponding operator with the config's scoping applied up front —
  * session restriction lands as a filter the optimizer pushes into the
  * scan (partition pruning against a session-partitioned landing zone).
  */
object Jobs {

  private def scoped(bills: DataFrame, cfg: JobConfig): DataFrame =
    cfg.sessions.fold(bills)(ss =>
      bills.filter(Fixtures.sessionLabel.isin(ss: _*)))

  /** Entry point A: metadata keyword search. */
  def billSearch(spark: SparkSession, cfg: JobConfig = JobConfig()): DataFrame =
    BillSearch.search(scoped(Fixtures.billsJson(spark), cfg), cfg.searchTerms)

  /** Entry point B: legislator productivity counts. */
  def legislatorCounts(spark: SparkSession,
                       cfg: JobConfig = JobConfig()): DataFrame =
    LegislatorCounts.counts(Fixtures.people(spark),
      scoped(Fixtures.bills(spark), cfg), cfg.allBills)

  /** Entry point C: full-text term search over the landed corpus;
    * `budgetOnly` restricts the corpus to budget-listed bills (the
    * reference's `budget_only` flag) via a broadcast semi join on the
    * (year, bill) key parsed from the filename. */
  def fullTextSearch(spark: SparkSession,
                     cfg: JobConfig = JobConfig()): DataFrame = {
    val corpus = FullText.corpusFromBinary(spark)
    val scopedCorpus =
      if (!cfg.budgetOnly) corpus
      else {
        val budget = FullText.budgetBills(Fixtures.sbud(spark))
          .select(col("year").cast("string").as("b_year"),
            col("bill_number").as("b_bill"))
        corpus
          .withColumn("f_year", FullText.fileYear)
          .withColumn("f_bill", regexp_replace(FullText.fileBill, " ", ""))
          .join(broadcast(budget),
            col("f_year") === col("b_year") && col("f_bill") === col("b_bill"),
            "left_semi")
          .drop("f_year", "f_bill")
      }
    FullText.search(scopedCorpus, FullText.termsTable(spark, cfg.fullTextTerms))
  }
}
