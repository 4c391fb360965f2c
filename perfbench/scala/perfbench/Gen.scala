package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

/** SplitMix64: the one seeded stream every generator draws from. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def pct(p: Int): Boolean = nextInt(100) < p
  def pick[A](xs: IndexedSeq[A]): A = xs(nextInt(xs.size))
  /** Standard normal (Box-Muller over two 53-bit uniforms). */
  def gauss(): Double = {
    val u1 = ((nextLong() >>> 11) + 1).toDouble / (1L << 53).toDouble
    val u2 = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
}

/** Order-sensitive digest of everything a generator emits, so a test
  * can tell byte-identical inputs from merely same-sized ones. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes(StandardCharsets.UTF_8))
  def add(b: Array[Byte]): Unit = md.update(b)
  def hex: String = md.digest().map(b => f"$b%02x").mkString
}

// ------------------------------------------------------------------ //
// legis_etl: a raw LegiScan tree
// ------------------------------------------------------------------ //

final case class GSponsor(peopleId: Long, typeId: Int)
final case class GText(docId: Long, date: String, tpe: String, link: String)
final case class GBill(billId: Long, number: String, billType: String,
                       status: Int, statusDate: String, title: String,
                       description: String, sessIdx: Int,
                       texts: Seq[GText], sponsors: Seq[GSponsor]) {
  def chaptered: Boolean = texts.exists(_.tpe == "Chaptered")
  def year: String = statusDate.take(4)
}
final case class GPerson(peopleId: Long, name: String, role: String,
                         district: String, committeeId: Long, sessIdx: Int)
/** One chaptered-bill HTML page; `text` is what the page reads as once
  * tags are stripped and entities decoded (the ground-truth side). */
final case class GPage(file: String, html: String, text: String)

final case class LegisInputs(bills: Seq[GBill], people: Seq[GPerson],
                             pages: Seq[GPage],
                             sbud: Seq[(Int, Seq[String])]) {
  /** (session label, bill number) of every budget-listed bill line. */
  def budgetBills: Set[(Int, String)] =
    sbud.flatMap { case (y, lines) => lines.collect {
      case LegisGen.BudgetLine(ch, n) => (y, ch + n)
    } }.toSet
}

object LegisGen {
  /** The three sessions the legislator-counts pivot knows
    * (`LegislatorCounts.sessionLabels`). */
  val sessions: IndexedSeq[(Long, Int)] =
    IndexedSeq((1483L, 2017), (1627L, 2019), (1790L, 2021))
  def sessionLabel(i: Int): String =
    s"${sessions(i)._2}-${sessions(i)._2 + 1}"
  def sessionName(i: Int): String = s"${sessionLabel(i)} Regular Session"

  val BillsPerSession = 150
  val Legislators = 120
  val CommitteesPerSession = 4
  /** Sponsor ids outside the people tree — exercise the fallback and
    * drop rules of the counts pivot. */
  val UnknownSponsorPct = 6

  val BudgetLine = """^\s*([AS][BC]A?) ([0-9]+).*$""".r

  private val topics = IndexedSeq("housing", "water", "education",
    "transportation", "energy", "healthcare", "taxation", "wildfire",
    "broadband", "agriculture", "cost recovery", "Affordable care")
  private val codes = IndexedSeq("Government", "Health and Safety",
    "Education", "Revenue and Taxation", "Water", "Public Resources")
  private val descBits = IndexedSeq(
    "would require the department to report annually",
    "makes an appropriation for related administrative costs",
    "addresses the Cost of living for working families",
    "expands affordable housing production standards",
    "provides grants to local educational agencies",
    "streamlines permitting for water storage projects",
    "establishes a working group to study implementation",
    "revises eligibility criteria for the program")
  private val secBits = IndexedSeq(
    "the agency shall adopt regulations",
    "funds shall be allocated to counties",
    "the board may contract with public entities",
    "this act takes effect immediately",
    "education programs receive priority review",
    "groundwater basins are managed sustainably",
    "reports are submitted to the legislature")
  private val first = IndexedSeq("Pat", "Sam", "Alex", "Morgan", "Jordan",
    "Casey", "Riley", "Drew", "Jamie", "Quinn", "Avery", "Blake")
  private val last = IndexedSeq("Alvarez", "Baker", "Chen", "Dodd", "Evans",
    "Flores", "Garcia", "Huang", "Ibarra", "Jones", "Kim", "Lopez")

  def personId(k: Int): Long = 20000L + k

  /** Legislators k active in session i: overlapping windows, so people
    * span one to three sessions and keep-latest dedup is exercised. */
  def active(i: Int): IndexedSeq[Int] =
    (0 until Legislators).filter(k => (k + i * 17) % 120 < 92)

  def generate(seed: Long): LegisInputs = {
    val rng = new Rng(seed ^ 0x4c45474953L)
    val people = sessions.indices.flatMap { i =>
      active(i).map { k =>
        val role = if (k % 3 == 0) "Sen" else "Rep"
        val d = (k % 40 + i) % 80 + 1
        GPerson(personId(k), s"${first(k % 12)} ${last((k / 12) % 12)} $k",
          role, f"${if (role == "Sen") "SD" else "HD"}-$d%02d", 0L, i)
      } ++ (1 to CommitteesPerSession).map { c =>
        GPerson(29000L + i * 10 + c, s"Committee on ${topics(c)}", "Rep", "",
          100L + c, i)
      }
    }
    val bills = sessions.indices.flatMap { i =>
      val (sid, y0) = sessions(i)
      val pool = active(i)
      (1 to BillsPerSession).map { n =>
        val chamber = if (rng.pct(60)) "AB" else "SB"
        val number = s"$chamber${n * 2 + rng.nextInt(2)}"
        val billType = if (rng.pct(85)) "B" else rng.pick(IndexedSeq("R", "CR", "JR"))
        val status = rng.pick(IndexedSeq(1, 1, 2, 2, 3, 4, 4, 4, 5, 6))
        val year = if (rng.pct(55)) y0 else y0 + 1
        val date = f"$year-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d"
        val topic = rng.pick(topics)
        val title = s"An act to amend Section ${100 + rng.nextInt(900)} of the " +
          s"${rng.pick(codes)} Code, relating to $topic."
        val description = s"This bill ${rng.pick(descBits)} and " +
          s"${rng.pick(descBits)}, relating to $topic."
        val chaptered = status == 6 || (status == 4 && rng.pct(45))
        val types = (if (rng.pct(2)) Nil else Seq("Introduced")) ++
          (if (rng.pct(60)) Seq("Amended") else Nil) ++
          (if (status >= 3) Seq("Enrolled") else Nil) ++
          (if (chaptered) Seq("Chaptered") else Nil)
        val texts = types.zipWithIndex.map { case (t, k) =>
          val doc = sid * 100000L + n * 10L + k
          val frag = if (rng.pct(40)) s"#p${1 + rng.nextInt(9)}" else ""
          GText(doc, f"$year-${1 + k}%02d-15", t,
            s"https://leginfo.example.gov/faces/billTextClient.xhtml?bill_id=$doc$frag")
        }
        val sponsors = (0 until rng.nextInt(5)).map { _ =>
          val pid = if (rng.pct(UnknownSponsorPct)) 28000L + rng.nextInt(50)
            else personId(pool(rng.nextInt(pool.size)))
          GSponsor(pid, if (rng.pct(55)) 1 else rng.pick(IndexedSeq(2, 3)))
        }.distinctBy(_.peopleId)
        GBill(sid * 100000L + n, number, billType, status, date, title,
          description, i, texts, sponsors)
      }
    }
    val pages = bills.filter(_.chaptered).map { b =>
      val paras = (1 to 3 + rng.nextInt(4)).map(_ =>
        s"SEC. ${1 + rng.nextInt(30)}. ${rng.pick(secBits).capitalize} " +
          s"concerning ${rng.pick(topics)} & related matters.")
      val appro = if (rng.pct(50))
        Seq(s"The sum of $$${1 + rng.nextInt(500)},000 is hereby appropriated " +
          "from the General Fund.") else Nil
      val body = paras ++ appro
      val html = s"<html><head><title>${b.number}</title></head><body>" +
        s"<h1>${b.title}</h1>" +
        body.map(p => s"<p>${p.replace("&", "&amp;")}</p>").mkString +
        "</body></html>"
      GPage(s"${b.year}_${b.number}.html", html,
        (Seq(b.number, b.title) ++ body).mkString(" "))
    }
    val sbud = (2017 to 2022).map { year =>
      val listed = bills.filter(b => b.chaptered && b.year == year.toString &&
        rng.pct(12))
      val lines = listed.map(b =>
        s"  ${b.number.take(2)} ${b.number.drop(2)} ${rng.pick(topics).capitalize} appropriations")
      (year, Seq(s"STATE BUDGET SUMMARY $year",
        "Prepared by the Committee on Budget and Fiscal Review",
        "Table of Contents ......... 2") ++ lines ++
        Seq(s"  ACA ${1 + rng.nextInt(9)} Constitutional amendment placeholder",
          "For more information visit the committee website."))
    }
    LegisInputs(bills, people, pages, sbud)
  }

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def billJson(b: GBill): String = {
    val (sid, y0) = sessions(b.sessIdx)
    val texts = b.texts.map(t =>
      s"""{"doc_id":${t.docId},"date":${js(t.date)},"type":${js(t.tpe)},"state_link":${js(t.link)}}""")
    val spons = b.sponsors.map(s =>
      s"""{"people_id":${s.peopleId},"sponsor_type_id":${s.typeId},"name":"sponsor ${s.peopleId}"}""")
    s"""{"bill":{"bill_id":${b.billId},"bill_number":${js(b.number)},""" +
      s""""bill_type":${js(b.billType)},"status":${b.status},""" +
      s""""status_date":${js(b.statusDate)},"title":${js(b.title)},""" +
      s""""description":${js(b.description)},"session":{"session_id":$sid,""" +
      s""""session_name":${js(sessionName(b.sessIdx))},"year_start":$y0,""" +
      s""""year_end":${y0 + 1}},"texts":${texts.mkString("[", ",", "]")},""" +
      s""""sponsors":${spons.mkString("[", ",", "]")}}}"""
  }

  def personJson(p: GPerson): String =
    s"""{"person":{"people_id":${p.peopleId},"name":${js(p.name)},""" +
      s""""role":${js(p.role)},"district":${js(p.district)},""" +
      s""""committee_id":${p.committeeId}}}"""

  /** A minimal PDF-1.4 file: Helvetica, one FlateDecode content stream
    * per page, `Tj`/`T*` text lines, a correct xref table. */
  def pdf(lines: Seq[String]): Array[Byte] = {
    def esc(s: String) =
      s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    val pages = lines.grouped(30).toSeq
    val objs = scala.collection.mutable.TreeMap.empty[Int, Array[Byte]]
    def ascii(s: String) = s.getBytes(StandardCharsets.ISO_8859_1)
    val pageIds = pages.zipWithIndex.map { case (pl, pi) =>
      val pid = 4 + 2 * pi
      val content = "BT\n/F1 10 Tf\n12 TL\n72 720 Td\n" +
        pl.zipWithIndex.map { case (l, j) =>
          (if (j == 0) "" else "T*\n") + s"(${esc(l)}) Tj\n"
        }.mkString + "ET\n"
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(ascii(content)); deflater.finish()
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      while (!deflater.finished()) buf.write(chunk, 0, deflater.deflate(chunk))
      deflater.end()
      val stream = buf.toByteArray
      objs(pid) = ascii(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${pid + 1} 0 R >>")
      objs(pid + 1) = ascii(s"<< /Length ${stream.length} /Filter /FlateDecode >>\nstream\n") ++
        stream ++ ascii("\nendstream")
      pid
    }
    objs(1) = ascii("<< /Type /Catalog /Pages 2 0 R >>")
    objs(2) = ascii(s"<< /Type /Pages /Kids [${pageIds.map(p => s"$p 0 R").mkString(" ")}] " +
      s"/Count ${pageIds.size} >>")
    objs(3) = ascii("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding /WinAnsiEncoding >>")
    val out = new java.io.ByteArrayOutputStream()
    out.write(ascii("%PDF-1.4\n"))
    val offsets = objs.map { case (id, body) =>
      val at = out.size()
      out.write(ascii(s"$id 0 obj\n")); out.write(body); out.write(ascii("\nendobj\n"))
      id -> at
    }
    val xref = out.size()
    out.write(ascii(s"xref\n0 ${objs.size + 1}\n0000000000 65535 f \n"))
    offsets.foreach { case (_, at) => out.write(ascii(f"$at%010d 00000 n \n")) }
    out.write(ascii(s"trailer\n<< /Size ${objs.size + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xref\n%%EOF\n"))
    out.toByteArray
  }

  /** Write the raw tree under `root` in the layout `graft.sources.Fixtures`
    * reads; returns the digest of every file written, in write order. */
  def write(in: LegisInputs, root: Path): String = {
    val d = new Digest
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
      d.add(rel); d.add(bytes)
    }
    def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
    in.bills.foreach(b => put(s"raw/${sessionLabel(b.sessIdx)}/bill/${b.number}.json",
      utf8(billJson(b) + "\n")))
    in.people.foreach(p => put(s"raw/${sessionLabel(p.sessIdx)}/people/${p.peopleId}.json",
      utf8(personJson(p) + "\n")))
    in.pages.foreach(p => put(s"html/${p.file}", utf8(p.html)))
    in.sbud.foreach { case (y, lines) => put(s"sbud_pdf/$y.pdf", pdf(lines)) }
    d.hex
  }
}

// ------------------------------------------------------------------ //
// curate_batch / index_serve: a text corpus with embeddings
// ------------------------------------------------------------------ //

final case class Doc(doc_id: Long, text: String, lang: String,
                     source: String, n_chars: Long)
final case class Vec(vec_id: Long, embedding: Array[Float], label: Int)

/** A seeded corpus with fixed shares of exact duplicates, near
  * duplicates and shared boilerplate, across [[Langs]] languages and
  * [[Sources]] sources, plus one clustered 64-d embedding per document.
  * Ids are `idBase + i`, so increments never collide with a standing
  * corpus. */
object CorpusGen {
  val Langs: IndexedSeq[String] = IndexedSeq("en", "de", "fr", "es", "it")
  val Sources = 20
  val Dim = 64
  val Labels = 10
  val MicroSize = 20
  val ExactDupPct = 4
  val NearDupPct = 8
  val BoilerPct = 25

  private val vocab: Map[String, IndexedSeq[String]] = Map(
    "en" -> "the a of and to in is for on with data model train spark table query index corpus token shard vector value batch stream join filter window group order key row column scan sort hash merge score rank text page crawl source language quality review report budget water energy school health".split(" ").toIndexedSeq,
    "de" -> "der die das und zu in ist mit auf fur daten modell tabelle anfrage wert strom gruppe spalte zeile schluessel seite quelle sprache bericht wasser energie schule gesundheit haushalt wald stadt land zeit".split(" ").toIndexedSeq,
    "fr" -> "le la les et de en est pour sur avec donnees modele table requete valeur flux groupe colonne ligne cle page source langue rapport eau energie ecole sante budget ville pays temps".split(" ").toIndexedSeq,
    "es" -> "el la los y de en es para con datos modelo tabla consulta valor flujo grupo columna fila clave pagina fuente idioma informe agua energia escuela salud presupuesto ciudad pais tiempo".split(" ").toIndexedSeq,
    "it" -> "il la gli e di in per con dati modello tabella richiesta valore flusso gruppo colonna riga chiave pagina fonte lingua rapporto acqua energia scuola salute bilancio citta paese tempo".split(" ").toIndexedSeq)

  /** Shared boilerplate blocks: navigation chrome, licence text. */
  private def boilerplate(rng: Rng): IndexedSeq[String] =
    (0 until 12).map(_ =>
      (0 until 30 + rng.nextInt(20)).map(_ => rng.pick(vocab("en"))).mkString(" "))

  final case class Corpus(docs: IndexedSeq[Doc], vecs: IndexedSeq[Vec]) {
    def digest: String = {
      val d = new Digest
      docs.foreach(x => d.add(s"${x.doc_id}\t${x.lang}\t${x.source}\t${x.text}\n"))
      vecs.foreach(v => d.add(s"${v.vec_id}\t${v.label}\t${v.embedding.mkString(",")}\n"))
      d.hex
    }
  }

  def generate(seed: Long, n: Int, idBase: Long, stream: Long): Corpus = {
    val rng = new Rng(seed * 0x100000001b3L ^ stream)
    val blocks = boilerplate(new Rng(seed ^ 0x426f696cL))
    // vectors sit in tight micro-clusters around [[Labels]] coarse centres,
    // so a vector's true top-10 is its micro-cluster, well apart from the rest
    val micro = {
      val r = new Rng(seed ^ 0x43656e74L)
      val centers = (0 until Labels).map(_ => Array.fill(Dim)(r.gauss()))
      (0 until math.max(1, n / MicroSize)).map(_ =>
        centers(r.nextInt(Labels)).map(_ + 0.5 * r.gauss()))
    }
    val docs = new scala.collection.mutable.ArrayBuffer[Doc](n)
    val vecs = new scala.collection.mutable.ArrayBuffer[Vec](n)
    for (i <- 0 until n) {
      val id = idBase + i
      val roll = rng.nextInt(100)
      val (text, lang, label) =
        if (i > 10 && roll < ExactDupPct) {
          val src = docs(rng.nextInt(docs.size)); (src.text, src.lang, rng.nextInt(Labels))
        } else if (i > 10 && roll < ExactDupPct + NearDupPct) {
          val src = docs(rng.nextInt(docs.size))
          val toks = src.text.split(" ")
          toks(rng.nextInt(toks.length)) = rng.pick(vocab(src.lang))
          (toks.mkString(" "), src.lang, rng.nextInt(Labels))
        } else {
          val lang = Langs(rng.nextInt(Langs.size))
          val words = vocab(lang)
          val body = (0 until 12 + rng.nextInt(80)).map(_ => rng.pick(words)).mkString(" ")
          val t = if (rng.pct(BoilerPct)) {
            val b = rng.pick(blocks); if (rng.pct(50)) s"$b $body" else s"$body $b"
          } else body
          (t, lang, rng.nextInt(Labels))
        }
      docs += Doc(id, text, lang, s"src${rng.nextInt(Sources)}", text.length.toLong)
      val m = micro(rng.nextInt(micro.size))
      vecs += Vec(id, Array.tabulate(Dim)(k => (m(k) + 0.08 * rng.gauss()).toFloat),
        label)
    }
    Corpus(docs.toIndexedSeq, vecs.toIndexedSeq)
  }
}
