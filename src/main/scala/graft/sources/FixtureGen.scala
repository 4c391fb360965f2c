package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, Path}
import java.util.Base64

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Deterministic LegiScan-shaped fixture generator (run once; outputs are
  * committed). Mirrors the data shapes the reference consumes — sessions of
  * bill/person JSON documents (`legiscan_search_all_bills.R:71-86`), SBUD
  * budget text (PDF extraction stubbed as committed plain text — poppler is
  * not in this container; SURVEY §2.1 S6), and chaptered-bill HTML
  * (`legiscan_main.R:194-215`).
  *
  * Determinism: a fixed-seed SplitMix64 stream; no wall clock, no JVM map
  * ordering. Content is plain ASCII, one JSON object per line per file.
  * The parquet landing copies are produced by reading the JSON tree back
  * through the pinned schemas, so raw tree and landing zone agree by
  * construction.
  */
object FixtureGen {
  import LegiScanModel._

  /** SplitMix64 — tiny deterministic PRNG (public-domain algorithm). */
  final class Rng(seed0: Long) {
    private var s = seed0
    def nextLong(): Long = {
      s += 0x9e3779b97f4a7c15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
    def pick[A](xs: Seq[A]): A = xs(nextInt(xs.size))
    def chance(pct: Int): Boolean = nextInt(100) < pct
  }

  val sessions = Seq(
    ("2017-2018", 1483L, "2017-2018 Regular Session", 2017, 2018),
    ("2019-2020", 1627L, "2019-2020 Regular Session", 2019, 2020),
    ("2021-2022", 1790L, "2021-2022 Regular Session", 2021, 2022))

  /** The reference's special side-branch legislator (Bill Dodd analogue,
    * `legislator_bill_counts_run.R:127-134`). */
  val specialPersonId = 9007L

  private val firstNames = Seq("Pat", "Sam", "Alex", "Morgan", "Jordan",
    "Casey", "Riley", "Drew", "Jamie", "Quinn", "Avery", "Blake")
  private val lastNames = Seq("Alvarez", "Baker", "Chen", "Dodd", "Evans",
    "Flores", "Garcia", "Huang", "Ibarra", "Jones", "Kim", "Lopez",
    "Meyer", "Nguyen", "Ortiz", "Patel")
  private val topics = Seq("housing", "water", "education", "transportation",
    "energy", "healthcare", "taxation", "wildfire", "broadband", "agriculture")
  private val codes = Seq("Government", "Health and Safety", "Education",
    "Revenue and Taxation", "Water", "Public Resources", "Vehicle")
  private val descBits = Seq(
    "would require the department to report annually",
    "makes an appropriation for related administrative costs",
    "addresses the cost of living for working families",
    "expands affordable housing production standards",
    "provides grants to local educational agencies",
    "streamlines permitting for water storage projects",
    "establishes a working group to study implementation",
    "revises eligibility criteria for the program")

  def personName(id: Long): String = {
    val i = (id % firstNames.size).toInt
    val j = ((id / 7) % lastNames.size).toInt
    s"${firstNames(i)} ${lastNames(j)}"
  }
  def personRole(id: Long): String = if (id % 3 == 0) "Sen" else "Rep"
  def personDistrict(id: Long, sessIdx: Int): String = {
    // District shifts over time so keep-latest dedup is observable.
    val n = (id % 40 + sessIdx) % 80 + 1
    f"${if (personRole(id) == "Sen") "SD" else "HD"}-$n%02d"
  }

  /** Active people per session — overlapping windows so legislators span
    * 1..3 sessions (exercises YearsInData and keep-latest semantics). */
  def activePeople(sessIdx: Int): Seq[Long] = sessIdx match {
    case 0 => 9001L to 9040L
    case 1 => 9005L to 9044L
    case _ => 9010L to 9050L
  }
  /** Committee rows (committee_id != 0) — dropped by P7 downstream. */
  def committees(sessIdx: Int): Seq[(Long, Long)] =
    (1 to 4).map(k => (9900L + sessIdx * 10 + k, 100L + k))

  case class GenBill(doc: BillDoc, sessDir: String)

  /** Cached corpus — each generator seeds its own Rng, so per-call
    * output is identical and caching is purely a cost saving (genSbud
    * alone would otherwise rebuild all bills once per year). */
  lazy val allBills: Seq[GenBill] = genBills()

  def genBills(): Seq[GenBill] = {
    val rng = new Rng(42)
    sessions.zipWithIndex.flatMap { case ((dir, sid, sname, y0, y1), si) =>
      val nBills = 110 + si * 10
      (1 to nBills).map { i =>
        val chamber = if (rng.chance(60)) "AB" else "SB"
        val number = i * 2 + rng.nextInt(2) // unique per session, gaps
        val billNumber = s"$chamber$number"
        val billType = if (rng.chance(84)) "B"
          else rng.pick(Seq("R", "CR", "JR"))
        val status = rng.pick(Seq(1, 1, 2, 2, 3, 4, 4, 4, 5, 6))
        val year = if (rng.chance(55)) y0 else y1
        val month = 1 + rng.nextInt(12)
        val day = 1 + rng.nextInt(28)
        val statusDate = java.sql.Date.valueOf(f"$year-$month%02d-$day%02d")
        val topic = rng.pick(topics)
        val title = s"An act to amend Section ${100 + rng.nextInt(900)} of the " +
          s"${rng.pick(codes)} Code, relating to $topic."
        val description = s"This bill ${rng.pick(descBits)} and " +
          s"${rng.pick(descBits)}, relating to $topic."
        val chaptered = status == 6 || (status == 4 && rng.chance(30))
        val textTypes = Seq("Introduced") ++
          (if (rng.chance(60)) Seq("Amended") else Nil) ++
          (if (status >= 3) Seq("Enrolled") else Nil) ++
          (if (chaptered) Seq("Chaptered") else Nil)
        val texts = textTypes.zipWithIndex.map { case (t, k) =>
          val docId = sid * 1000 + i * 10L + k
          val frag = if (rng.chance(40)) s"#p${1 + rng.nextInt(9)}" else ""
          BillText(docId, f"$year-${1 + k}%02d-15", t,
            s"https://leginfo.example.gov/faces/billTextClient.xhtml?bill_id=$docId$frag")
        }
        val pool = activePeople(si)
        val nSpon = rng.nextInt(5) // 0..4
        var sponsors = (0 until nSpon).map { _ =>
          val pid = pool(rng.nextInt(pool.size))
          val tpe = if (rng.chance(55)) 1 else rng.pick(Seq(2, 3))
          Sponsor(pid, tpe, personName(pid))
        }.distinctBy(_.people_id)
        // Guarantee the special person a steady stream of primary bills.
        if (i % 13 == 0)
          sponsors = Sponsor(specialPersonId, 1, personName(specialPersonId)) +:
            sponsors.filter(_.people_id != specialPersonId)
        val rec = BillRec(sid * 100000 + i, billNumber, billType, status,
          statusDate, title, description,
          SessionRef(sid, sname, y0, y1), texts, sponsors)
        GenBill(BillDoc(rec), dir)
      }
    }
  }

  def genPeople(): Seq[(PersonDoc, String)] =
    sessions.zipWithIndex.flatMap { case ((dir, _, _, _, _), si) =>
      val real = activePeople(si).map { id =>
        PersonDoc(PersonRec(id, personName(id), personRole(id),
          personDistrict(id, si), 0L))
      }
      val comm = committees(si).map { case (id, cid) =>
        PersonDoc(PersonRec(id, s"Committee on ${topics((id % 10).toInt).capitalize}",
          "Rep", "", cid))
      }
      (real ++ comm).map(p => (p, dir))
    }

  /** SBUD budget-summary text per year — the PDF-extraction stub (S6/F12):
    * the container has no PDF decoder, so the committed fixture IS the
    * extracted text; the line-filter/extract semantics downstream are real. */
  def genSbud(): Seq[(Int, String)] = {
    val rng = new Rng(4242)
    (2017 to 2022).map { year =>
      val bills = allBills.filter { gb =>
        gb.doc.bill.status_date.toString.startsWith(year.toString) &&
          gb.doc.bill.texts.exists(_.`type` == "Chaptered") && rng.chance(70)
      }.take(12)
      val billLines = bills.map { gb =>
        val bn = gb.doc.bill.bill_number
        val spaced = bn.replaceAll("^([A-Z]+)", "$1 ")
        s"  $spaced ${rng.pick(topics).capitalize} appropriations"
      }
      val noise = Seq(
        s"STATE BUDGET SUMMARY $year",
        "Prepared by the Committee on Budget and Fiscal Review",
        "Table of Contents ......... 2",
        s"  ACA ${1 + rng.nextInt(9)} Constitutional amendment placeholder",
        "For more information visit the committee website.")
      val text = (noise.take(3) ++ billLines ++ noise.drop(3)).mkString("\n")
      (year, text)
    }
  }

  /** Chaptered-bill HTML corpus (S7/F11 input). */
  def genHtml(): Seq[(String, String)] = {
    val rng = new Rng(777)
    allBills.filter(_.doc.bill.texts.exists(_.`type` == "Chaptered"))
      .map { gb =>
        val b = gb.doc.bill
        val year = b.status_date.toString.take(4)
        val file = s"${year}_${b.bill_number}.html"
        val paras = (1 to 3 + rng.nextInt(3)).map { _ =>
          s"<p>SEC. ${1 + rng.nextInt(30)}. ${rng.pick(descBits).capitalize}" +
            s" concerning ${rng.pick(topics)} &amp; related matters.</p>"
        }
        val appro = if (rng.chance(50))
          "<p>The sum of $" + (1 + rng.nextInt(500)) +
            ",000 is hereby appropriated from the General Fund.</p>" else ""
        val body = s"<html><head><title>${b.bill_number}</title></head><body>" +
          s"<h1>${b.title}</h1>${paras.mkString("")}$appro</body></html>"
        (file, body)
      }
  }

  // --- JSON rendering (single-line, controlled ASCII) ---
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def billJson(d: BillDoc): String = {
    val b = d.bill
    val texts = b.texts.map(t =>
      s"""{"doc_id":${t.doc_id},"date":${jstr(t.date)},"type":${jstr(t.`type`)},"state_link":${jstr(t.state_link)}}""")
      .mkString("[", ",", "]")
    val spons = b.sponsors.map(s =>
      s"""{"people_id":${s.people_id},"sponsor_type_id":${s.sponsor_type_id},"name":${jstr(s.name)}}""")
      .mkString("[", ",", "]")
    s"""{"bill":{"bill_id":${b.bill_id},"bill_number":${jstr(b.bill_number)},""" +
      s""""bill_type":${jstr(b.bill_type)},"status":${b.status},""" +
      s""""status_date":${jstr(b.status_date.toString)},"title":${jstr(b.title)},""" +
      s""""description":${jstr(b.description)},"session":{"session_id":${b.session.session_id},""" +
      s""""session_name":${jstr(b.session.session_name)},"year_start":${b.session.year_start},""" +
      s""""year_end":${b.session.year_end}},"texts":$texts,"sponsors":$spons}}"""
  }

  def personJson(d: PersonDoc): String = {
    val p = d.person
    s"""{"person":{"people_id":${p.people_id},"name":${jstr(p.name)},""" +
      s""""role":${jstr(p.role)},"district":${jstr(p.district)},""" +
      s""""committee_id":${p.committee_id}}}"""
  }

  private def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val root = Paths.get(Fixtures.root)
    // 1. raw JSON tree
    allBills.foreach { gb =>
      write(root.resolve(s"raw/${gb.sessDir}/bill/${gb.doc.bill.bill_number}.json"),
        billJson(gb.doc) + "\n")
    }
    genPeople().foreach { case (pd, dir) =>
      write(root.resolve(s"raw/$dir/people/${pd.person.people_id}.json"),
        personJson(pd) + "\n")
    }
    // 2. sbud text + html corpus
    genSbud().foreach { case (y, t) => write(root.resolve(s"sbud/$y.txt"), t) }
    genHtml().foreach { case (f, h) => write(root.resolve(s"html/$f"), h) }

    // 3. parquet landing copies — read the tree back through pinned schemas
    val spark = graft.GraftSession(graft.GraftSession.mainCores)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"${Fixtures.root}/$name.parquet")

    land(Fixtures.billsJson(spark), "bills")
    land(Fixtures.peopleJson(spark), "people")

    import spark.implicits._
    land(genSbud().toDF("year", "text"), "sbud")
    val html = genHtml().toDF("file", "html")
    land(html, "bill_texts")
    // base64 API-payload analogue (S2/S8/F10 input). Encoded with the
    // unwrapped RFC 4648 encoder — Spark's base64() emits MIME-style
    // 76-char lines, which other decoders (e.g. DuckDB) reject.
    val payloads = genHtml().zipWithIndex.map { case ((f, h), i) =>
      (10000L + i,
        Base64.getEncoder.encodeToString(h.getBytes(StandardCharsets.UTF_8)), f)
    }
    land(payloads.toDF("doc_id", "payload_b64", "file"), "doc_payloads")
    spark.stop()
    println(s"[fixturegen] wrote ${allBills.size} bills, " +
      s"${genPeople().size} people, ${genHtml().size} html docs under $root")
  }
}
