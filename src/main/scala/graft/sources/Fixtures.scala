package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** LegiScan-shaped record types — the de-facto schema the reference
  * consumes (SURVEY §1.3; field set per `legiscan_search_all_bills.R:81-86`,
  * `legislator_bill_counts_run.R:77-81,108-134`, `legiscan_main.R:150-175`).
  *
  * One JSON document per bill / per person, wrapped in a `bill` / `person`
  * envelope exactly like the LegiScan API payloads the reference reads.
  */
object LegiScanModel {
  case class SessionRef(session_id: Long, session_name: String,
                        year_start: Int, year_end: Int)
  case class BillText(doc_id: Long, date: String, `type`: String,
                      state_link: String)
  case class Sponsor(people_id: Long, sponsor_type_id: Int, name: String)
  case class BillRec(bill_id: Long, bill_number: String, bill_type: String,
                     status: Int, status_date: java.sql.Date, title: String,
                     description: String, session: SessionRef,
                     texts: Seq[BillText], sponsors: Seq[Sponsor])
  case class BillDoc(bill: BillRec)
  case class PersonRec(people_id: Long, name: String, role: String,
                       district: String, committee_id: Long)
  case class PersonDoc(person: PersonRec)

  /** Pinned schemas — schema inference over a one-file-per-record tree is
    * a full extra scan at 100 TB (SURVEY §1.2), so readers always pass
    * these explicitly. */
  val billSchema: StructType = Encoders.product[BillDoc].schema
  val personSchema: StructType = Encoders.product[PersonDoc].schema
}

/** Committed LegiScan-shaped fixture corpus + canonical readers.
  *
  * Layout under [[Fixtures.root]] (generated once by [[FixtureGen]],
  * committed to git, never regenerated at query time):
  *
  * {{{
  *   raw/<years>/bill/<bill_number>.json    one single-line JSON per bill
  *   raw/<years>/people/<people_id>.json    one single-line JSON per person
  *   html/<year>_<bill>.html                chaptered bill full text (HTML)
  *   sbud/<year>.txt                        budget-summary ground-truth text
  *   sbud_pdf/<year>.pdf                    the same summaries as REAL PDFs
  *                                          (tools/make_sbud_pdfs.py)
  *   bills.parquet/ people.parquet/ ...     compacted landing-zone copies
  * }}}
  *
  * The `raw/` tree mirrors the reference's session-partitioned directory
  * layout (`legiscan_search_all_bills.R:71-78`); the parquet dirs are the
  * compacted landing zone the 100-TB design ingests into (one distributed
  * json scan → columnar store; solves the small-files problem, SURVEY §7.4).
  * The DuckDB oracle reads the parquet copies by absolute path, so Spark
  * queries and oracle SQL see byte-identical data.
  */
object Fixtures {
  import LegiScanModel._

  val root: String =
    sys.env.getOrElse("GRAFT_FIXTURES", "/root/repo/fixtures/legiscan")

  /** The "YYYY-YYYY" session label derived from a bill row's nested
    * session struct — the ONE spelling shared by every consumer (counts,
    * budget semi join, rollups, job scoping). */
  def sessionLabel: org.apache.spark.sql.Column =
    concat(col("session.year_start").cast("string"), lit("-"),
      col("session.year_end").cast("string"))

  /** S4: one distributed JSON scan over the whole bill tree (replaces the
    * reference's per-file fromJSON loop). Files are single-line JSON, so
    * the default (line-mode, splittable) reader applies. `tree` is the
    * fixture root holding `raw/` (default [[root]]). */
  def billsJson(spark: SparkSession, tree: String = root): DataFrame =
    rawJson(spark, billSchema, tree, "bill").select(col("bill.*"))

  /** The JSON files directly under each `raw/<years>/<kind>/` directory.
    *
    * The path names the per-session `<kind>` directories and a file
    * filter picks the `.json` files, rather than a glob down to each
    * `.json` file. Such a glob expands to one path per file, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 paths)
    * the file index lists them in a Spark job with one task per file, at
    * every reader call. Three directory roots stay under the threshold
    * and are listed in place, with no job.
    *
    * The read is non-recursive, like the reference's
    * `list.files(bill_directory)` (`legiscan_search_all_bills.R:71-78`):
    * with no partition columns inferred, the file index serves only the
    * files directly under each root, so a nested directory is skipped,
    * and the filter skips non-JSON files. */
  private def rawJson(spark: SparkSession, schema: StructType, tree: String,
                      kind: String): DataFrame =
    spark.read.schema(schema).option("pathGlobFilter", "*.json")
      .json(s"$tree/raw/*/$kind")

  /** S4 with corrupt-record quarantine — the production ingest shape: at
    * 100 TB some landed documents WILL be malformed, and the default
    * PERMISSIVE mode would surface them as silent all-null rows. The
    * reader captures the raw text of unparseable lines in a corrupt
    * column; callers split the scan into (clean rows, quarantined raw
    * lines) and land the quarantine for reprocess — FAILFAST (killing a
    * cluster-day job on one bad byte) is the alternative this avoids.
    * One scan serves both outputs.
    *
    * The third element is the cached raw scan backing both splits —
    * `unpersist()` it when done with the derived frames (or use the
    * scoped [[withBillsJsonQuarantined]], which releases it for you). */
  def billsJsonQuarantined(spark: SparkSession,
                           path: String): (DataFrame, DataFrame, DataFrame) = {
    val withCorrupt = billSchema.add("_corrupt_record", "string")
    val raw = spark.read.schema(withCorrupt)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      // the file name must be captured AT the scan — past the cache
      // boundary input_file_name() evaluates against the in-memory
      // relation and returns ""
      .withColumn("_file", input_file_name())
      .cache() // one pass serves both splits (and Spark requires
               // referencing the corrupt column only after materializing)
    val good = raw.filter(col("_corrupt_record").isNull)
      .select(col("bill.*"))
    val quarantined = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_file").as("file"), col("_corrupt_record").as("raw"))
    (good, quarantined, raw)
  }

  /** Scoped quarantine ingest: runs `use` over the (clean, quarantined)
    * split and unpersists the backing scan afterwards, so a long-lived
    * session doesn't accumulate the cached raw relation. */
  def withBillsJsonQuarantined[T](spark: SparkSession, path: String)(
      use: (DataFrame, DataFrame) => T): T = {
    val (good, quarantined, raw) = billsJsonQuarantined(spark, path)
    try use(good, quarantined) finally raw.unpersist()
  }

  /** S5: people scan with the session recovered from the directory path
    * (the reference's only session marker for people files,
    * `legislator_bill_counts_run.R:54-60`). Same read as [[billsJson]]. */
  def peopleJson(spark: SparkSession, tree: String = root): DataFrame =
    rawJson(spark, personSchema, tree, "people")
      .withColumn("session",
        regexp_extract(input_file_name(), "/raw/([0-9]{4}-[0-9]{4})/", 1))
      .select(col("person.*"), col("session"))

  // Compacted landing-zone copies (and what the DuckDB oracle reads).
  def bills(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/bills.parquet")
  def people(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/people.parquet")
  def sbud(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/sbud.parquet")
  def billTexts(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/bill_texts.parquet")
  def docPayloads(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/doc_payloads.parquet")

  /** Committed REAL image blobs (BMP 8/24/32-bit, PPM/PGM, junk rows)
    * as (doc_id, kind, payload_b64) — tools/make_media_fixtures.py;
    * the multimodal decode queries read these. */
  def media(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$root/media.parquet")

  /** S7: binaryFile scan of the HTML corpus — the scale path for opaque
    * document blobs (content arrives as `BinaryType` + path metadata). */
  def billTextsBinary(spark: SparkSession): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", "*.html")
      .load(s"$root/html")

  /** S6 (real): binaryFile scan of the budget-summary PDFs. */
  def sbudPdfBinary(spark: SparkSession): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", "*.pdf")
      .load(s"$root/sbud_pdf")

  /** S6 + F12 (real): the sbud table decoded FROM THE PDFS — year from
    * the filename, text through [[PdfText.extract]] (from-scratch
    * FlateDecode + content-stream interpreter; no PDF library in the
    * container). Schema-identical to [[sbud]]; `q_budget_bills_pdf`
    * pins extract(pdf) ≡ the committed ground-truth text at the oracle
    * gate, so the decoder is hash-verified end to end, not just
    * spec'd. */
  def sbudFromPdf(spark: SparkSession): DataFrame =
    sbudPdfBinary(spark).select(
      regexp_extract(col("path"), "([0-9]{4})\\.pdf$", 1)
        .cast("int").as("year"),
      PdfText.pdfText(col("content")).as("text"))
}
