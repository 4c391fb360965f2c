package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions._
import graft.tables.Tables

/** Text analysis over the `documents` corpus: corpus statistics,
  * heuristic language ID, and quality scoring — the per-document
  * featurization stage of a training-data pipeline.
  *
  * Everything is a per-row expression (one narrow pass, stays inside
  * WholeStageCodegen) followed by at most one aggregate shuffle. All
  * divisions carry explicit zero guards (Spark 4 ANSI mode) and are
  * expressed as CAST(x AS DOUBLE)/CAST(y AS DOUBLE) so the DuckDB oracle
  * performs the identical IEEE operation.
  */
object TextStats {

  /** Tiny per-language stopword profiles for the n-gram/stopword
    * language-ID heuristic. Deterministic, data-independent. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "de"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens belonging to a profile (multiset semantics) — the
    * built-in REFERENCE spelling; hot paths use [[tokenProfile]]'s
    * `hits` field (ExpressionsSpec proves them equal). */
  def hitCount(text: Column, words: Seq[String]): Column =
    size(filter(tokens(text), t => words.map(w => t === w).reduce(_ || _)))

  /** One-native-pass token statistics
    * (struct of n_tokens / sum_len / hits-in-words) — see
    * [[graft.expressions.TokenProfile]]. */
  def tokenProfile(text: Column, words: Seq[String]): Column = {
    val arr = if (words.isEmpty) array().cast("array<string>")
              else array(words.map(lit): _*)
    call_function("token_profile", text, arr)
  }

  /** Per-(lang, source) corpus stats. */
  def corpusStats(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("source"), col("n_chars"),
        tokenProfile(col("text"), Nil).getField("n_tokens").as("_nt"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("_nt").cast("long")).as("sum_tokens"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"))

  def qTextStats(spark: SparkSession, dir: String): DataFrame =
    corpusStats(Tables.documents(spark, dir)).orderBy(col("lang"), col("source"))

  /** Per-language seed lexicons for the character-trigram profiles:
    * the most frequent function/content words of each of 36 languages
    * (public frequency-list words). Deterministic and
    * data-independent — the profiles below are a pure function of
    * these lists, computed once at class load, and [[langIdNgram]]'s
    * scorer + the interpolated DuckDB oracle both regenerate from
    * them (the lexicon is the single source of arity — adding a
    * language is one entry here, no code change). Only en/de/fr have
    * stopword-hit twins in [[stopwords]]; the rest are profile-only. */
  val seedLexicon: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "a", "to", "in", "is", "you", "that",
      "it", "he", "was", "for", "on", "are", "as", "with", "his", "they",
      "at", "be", "this", "have", "from", "or", "one", "had", "by", "word",
      "but", "not", "what", "all", "were", "we", "when", "your", "can",
      "said", "there"),
    "de" -> Seq("der", "die", "und", "in", "den", "von", "zu", "das",
      "mit", "sich", "des", "auf", "ist", "im", "dem", "nicht",
      "ein", "eine", "als", "auch", "es", "an", "werden", "aus", "er",
      "hat", "dass", "sie", "nach", "wird", "bei", "einer", "um", "am",
      "sind", "noch", "wie", "einem", "wurde", "zwischen"),
    "fr" -> Seq("de", "la", "le", "et", "les", "des", "en", "un", "du",
      "une", "que", "est", "pour", "qui", "dans", "par", "plus", "pas",
      "au", "sur", "ne", "se", "ce", "il", "sont", "son", "avec",
      "comme", "ou", "mais", "nous", "tout", "sa", "leur", "bien",
      "peut", "ces", "aux", "était", "même"),
    "es" -> Seq("de", "la", "que", "el", "en", "y", "a", "los", "del",
      "se", "las", "por", "un", "para", "con", "no", "una", "su", "al",
      "lo", "como", "pero", "sus", "le", "ya", "o", "este", "porque",
      "esta", "entre", "cuando", "muy", "sin", "sobre", "me", "hasta",
      "hay", "donde", "también", "años"),
    "it" -> Seq("di", "che", "la", "il", "un", "per", "in", "una",
      "sono", "non", "le", "con", "si", "da", "come", "io", "questo",
      "ma", "del", "lui", "lei", "più", "mi", "era", "se", "ho", "lo",
      "ha", "anche", "tutto", "della", "alla", "su", "al", "bene",
      "qui", "sei", "cosa", "nel", "gli"),
    "pt" -> Seq("de", "que", "o", "do", "da", "em", "um", "para",
      "com", "não", "uma", "os", "no", "se", "na", "por", "mais", "as",
      "dos", "como", "mas", "ao", "ele", "das", "seu", "sua", "ou",
      "quando", "muito", "nos", "já", "eu", "também", "só", "pelo",
      "pela", "até", "isso", "ela", "entre"),
    "nl" -> Seq("de", "en", "van", "ik", "te", "dat", "die", "in",
      "een", "hij", "het", "niet", "zijn", "is", "was", "op", "aan",
      "met", "als", "voor", "had", "er", "maar", "om", "hem", "dan",
      "zou", "of", "wat", "mijn", "men", "dit", "zo", "door", "over",
      "ze", "zich", "bij", "ook", "je"),
    "pl" -> Seq("nie", "to", "się", "na", "i", "z", "co", "jest",
      "że", "do", "tak", "jak", "o", "mnie", "ale", "mi", "za", "ja",
      "ci", "tu", "ty", "czy", "tym", "go", "tego", "tylko", "jestem",
      "po", "cię", "ma", "już", "mam", "jej", "od", "dla", "was",
      "będzie", "są", "było", "byli"),
    "sv" -> Seq("och", "i", "att", "det", "som", "en", "på", "är",
      "av", "för", "med", "till", "den", "har", "de", "inte", "om",
      "ett", "han", "men", "var", "jag", "sig", "från", "vi", "så",
      "kan", "när", "år", "hon", "också", "efter", "eller", "nu",
      "sin", "där", "vid", "mot", "ska", "kommer"),
    "da" -> Seq("og", "i", "at", "det", "er", "en", "den", "til",
      "på", "de", "med", "han", "af", "for", "ikke", "der", "var",
      "mig", "sig", "men", "et", "har", "om", "vi", "min", "havde",
      "ham", "hun", "nu", "over", "da", "fra", "du", "ud", "sin",
      "dem", "os", "op", "man", "hans"),
    "no" -> Seq("og", "i", "jeg", "det", "at", "en", "et", "den",
      "til", "er", "som", "på", "de", "med", "han", "av", "ikke",
      "der", "så", "var", "meg", "seg", "men", "har", "om", "vi",
      "min", "mitt", "ha", "hadde", "hun", "nå", "over", "da", "ved",
      "fra", "du", "ut", "sin", "mot"),
    "fi" -> Seq("ja", "on", "ei", "se", "että", "oli", "hän",
      "mutta", "niin", "kun", "minä", "joka", "sen", "mitä", "tai",
      "kaikki", "me", "ovat", "ole", "hyvin", "nyt", "vain", "myös",
      "sitten", "kuin", "jos", "mukaan", "siinä", "tämä", "ne",
      "sitä", "olen", "olla", "jo", "koska", "voi", "sanoi",
      "kanssa", "mitään", "hänen"),
    "cs" -> Seq("a", "se", "na", "je", "že", "o", "s", "z", "do",
      "i", "to", "k", "ve", "pro", "za", "by", "ale", "si", "jako",
      "po", "co", "jsem", "jeho", "své", "který", "byl", "tak", "od",
      "nebo", "jsou", "při", "už", "být", "více", "bude", "když",
      "však", "až", "může", "pak"),
    "ro" -> Seq("de", "la", "a", "în", "și", "cu", "o", "pe", "un",
      "care", "ce", "mai", "din", "este", "al", "lui", "pentru",
      "dar", "sunt", "fost", "sau", "dacă", "când", "nu", "să", "se",
      "ca", "după", "tot", "fi", "el", "ea", "noi", "avea", "acest",
      "prin", "între", "ani", "două", "foarte"),
    "tr" -> Seq("bir", "ve", "bu", "da", "de", "ne", "için", "ben",
      "o", "çok", "ama", "gibi", "daha", "kadar", "sen", "ki", "mi",
      "her", "şey", "var", "bana", "beni", "sonra", "ile", "onu",
      "değil", "diye", "sana", "seni", "zaman", "iki", "kendi",
      "biz", "en", "olarak", "olan", "yok", "nasıl", "şimdi", "eğer"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "ini", "untuk",
      "dari", "dalam", "tidak", "akan", "pada", "juga", "saya", "ke",
      "karena", "ada", "mereka", "kita", "sudah", "atau", "bisa",
      "anda", "kami", "seperti", "satu", "lebih", "harus", "aku",
      "tahun", "orang", "hanya", "banyak", "telah", "masih", "bagi",
      "saat", "oleh", "sebagai", "kamu"),
    "hu" -> Seq("a", "az", "és", "hogy", "nem", "is", "egy", "ez",
      "de", "van", "volt", "mi", "ha", "meg", "én", "csak", "már",
      "el", "te", "mint", "azt", "vagy", "még", "ki", "lesz", "neki",
      "minden", "amikor", "itt", "most", "nagyon", "úgy", "aki",
      "majd", "mert", "akkor", "így", "lehet", "volna", "vele"),
    "ca" -> Seq("de", "la", "que", "el", "i", "a", "en", "un", "per",
      "amb", "no", "una", "els", "es", "dels", "al", "més", "com",
      "les", "seu", "ha", "això", "són", "ser", "o", "si", "hi",
      "del", "va", "ell", "però", "tot", "aquest", "quan", "molt",
      "sense", "fins", "on", "també", "anys"),
    "ru" -> Seq("и", "в", "не", "на", "я", "что", "он", "с", "как",
      "это", "а", "то", "все", "она", "так", "его", "но", "да", "ты",
      "к", "у", "же", "вы", "за", "бы", "по", "только", "её", "мне",
      "было", "вот", "от", "меня", "ещё", "нет", "о", "из", "ему",
      "теперь", "когда"),
    "uk" -> Seq("і", "в", "не", "на", "я", "що", "він", "з", "як",
      "це", "а", "то", "все", "вона", "так", "його", "але", "ти",
      "до", "у", "же", "ви", "за", "би", "по", "тільки", "її",
      "мені", "було", "ось", "від", "мене", "ще", "немає", "про",
      "нього", "тепер", "коли", "цього", "може"),
    "bg" -> Seq("и", "в", "не", "на", "аз", "че", "той", "с", "как",
      "това", "а", "то", "всички", "тя", "така", "него", "но", "да",
      "ти", "към", "у", "вие", "за", "би", "по", "само", "нея",
      "ми", "беше", "ето", "от", "мен", "още", "няма", "о", "му",
      "сега", "когато", "тук", "може"),
    "el" -> Seq("και", "το", "να", "του", "η", "με", "σε", "που",
      "δεν", "από", "είναι", "για", "την", "τον", "τα", "ότι", "θα",
      "στο", "αυτό", "τους", "μου", "ένα", "οι", "σου", "αλλά",
      "τη", "μια", "ως", "κι", "αν", "είχε", "ήταν", "μας", "πιο",
      "στη", "ο", "τι", "αυτή", "τώρα", "εδώ"),
    "vi" -> Seq("và", "của", "là", "có", "không", "được", "trong",
      "đã", "người", "cho", "một", "tôi", "những", "với", "này",
      "để", "khi", "anh", "ra", "thì", "cũng", "em", "sẽ", "đi",
      "về", "như", "ở", "nó", "lại", "còn", "trên", "bạn", "đây",
      "làm", "nhưng", "phải", "rất", "nhiều", "các", "đến"),
    "hr" -> Seq("je", "i", "u", "se", "na", "da", "za", "su", "s",
      "što", "od", "kao", "ali", "ja", "ti", "to", "mi", "smo",
      "bio", "sam", "će", "ne", "po", "iz", "o", "svoje", "više",
      "ili", "samo", "kad", "nije", "bi", "još", "a", "te",
      "njegov", "koji", "ga", "ovo", "ima"),
    "sk" -> Seq("a", "sa", "v", "na", "je", "to", "že", "som", "si",
      "z", "do", "ako", "ale", "ma", "po", "čo", "za", "by", "o",
      "mu", "ja", "ho", "tak", "s", "pre", "bol", "keď", "už",
      "ten", "nie", "my", "vy", "ich", "im", "od", "aj", "tu",
      "bude", "len", "môže"),
    "sl" -> Seq("je", "in", "se", "na", "da", "za", "so", "z",
      "kaj", "od", "kot", "ampak", "jaz", "ti", "to", "mi", "smo",
      "bil", "sem", "bo", "ne", "po", "iz", "o", "svoje", "več",
      "ali", "samo", "ko", "ni", "bi", "še", "a", "te", "ki",
      "ga", "tudi", "lahko", "zdaj", "ima"),
    "lt" -> Seq("ir", "yra", "kad", "jis", "tai", "aš", "su", "bet",
      "kaip", "buvo", "jo", "ji", "iš", "apie", "taip", "dar",
      "tik", "mes", "jūs", "savo", "per", "nuo", "po", "už",
      "prie", "ką", "nes", "ar", "be", "daug", "jau", "net",
      "gali", "kur", "viskas", "man", "tu", "čia", "nei", "tada"),
    "lv" -> Seq("un", "ir", "ka", "viņš", "tas", "es", "ar", "bet",
      "kā", "bija", "viņa", "no", "par", "tā", "vēl", "tikai",
      "mēs", "jūs", "savu", "pa", "pēc", "uz", "pie", "ko", "jo",
      "vai", "bez", "daudz", "jau", "pat", "var", "kur", "viss",
      "man", "tu", "šeit", "ne", "tad", "arī", "kas"),
    "et" -> Seq("ja", "on", "et", "ta", "see", "ma", "oli", "ka",
      "kui", "aga", "oma", "siis", "ning", "mis", "või", "nii",
      "veel", "ainult", "me", "te", "tema", "üle", "pärast",
      "juures", "mida", "sest", "kas", "ilma", "palju", "juba",
      "isegi", "saab", "kus", "kõik", "mulle", "sa", "siin", "ei",
      "selle", "nüüd"),
    "is" -> Seq("og", "að", "í", "á", "það", "er", "ég", "sem",
      "ekki", "var", "hann", "um", "en", "við", "hún", "með",
      "þetta", "fyrir", "svo", "hafa", "þeir", "því", "til", "af",
      "sér", "eða", "hér", "nú", "þá", "mér", "þú", "verið",
      "hans", "upp", "út", "eru", "hvað", "allt", "mjög", "bara"),
    "sq" -> Seq("dhe", "të", "në", "e", "një", "për", "me", "nga",
      "se", "si", "por", "ai", "ajo", "kjo", "u", "i", "më",
      "janë", "ka", "ishte", "do", "jo", "ne", "ju", "tij", "saj",
      "pas", "nën", "mbi", "pa", "shumë", "tani", "vetëm", "ku",
      "gjithë", "mua", "ti", "këtu", "nuk", "është"),
    "af" -> Seq("die", "en", "van", "is", "in", "nie", "het", "om",
      "dat", "ek", "hy", "sy", "was", "op", "met", "as", "vir",
      "aan", "by", "wat", "word", "hulle", "ons", "jy", "my",
      "daar", "een", "so", "maar", "tot", "al", "uit", "oor",
      "na", "kan", "sal", "baie", "nog", "gaan", "sê"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "عن", "مع", "هذا",
      "التي", "الذي", "كان", "لم", "ما", "لا", "هو", "هي", "أو",
      "ثم", "قد", "كل", "بعد", "قبل", "عند", "غير", "بين", "يوم",
      "أي", "لها", "له", "منذ", "حتى", "إذا", "هناك", "كيف",
      "نحن", "أنا", "أنت", "هم", "ذلك", "هذه"),
    "he" -> Seq("של", "את", "על", "לא", "אני", "זה", "הוא", "עם",
      "כל", "אם", "היא", "אבל", "יש", "מה", "כי", "גם", "כמו",
      "רק", "או", "אז", "אנחנו", "אתה", "הם", "שלי", "היה",
      "אין", "עוד", "כאן", "עכשיו", "מי", "לי", "לו", "אותו",
      "אותה", "שלא", "תחת", "בין", "אחרי", "לפני", "אחד"),
    "hi" -> Seq("के", "में", "की", "है", "को", "और", "से", "का",
      "पर", "यह", "कि", "नहीं", "हो", "था", "वह", "एक", "भी",
      "कर", "रहा", "लिए", "अपने", "तो", "ही", "कुछ", "अब", "जो",
      "मैं", "हम", "तुम", "आप", "उस", "इस", "साथ", "बाद", "तक",
      "या", "फिर", "बहुत", "गया", "थी"),
    "fa" -> Seq("و", "در", "به", "از", "که", "این", "را", "با",
      "است", "برای", "آن", "یک", "خود", "تا", "بر", "او", "ما",
      "من", "شما", "آنها", "بود", "شد", "هم", "نه", "اگر", "هر",
      "چه", "می", "کرد", "دارد", "باید", "پس", "هیچ", "همه",
      "دو", "بین", "روی", "هنوز", "چون", "حالا"))

  /** Languages the trigram profiles score, sorted — the argmax
    * tie-break order on BOTH engines. */
  val trigramLangs: Seq[String] = seedLexicon.keys.toSeq.sorted

  /** Word-boundary-padded character trigrams of one lexicon word —
    * `" word "` sliding by 1 — the Cavnar–Trenkle n-gram-profile
    * construction restricted to n = 3. */
  private def wordTrigrams(w: String): Seq[String] = {
    val p = " " + w + " "
    (0 to p.length - 3).map(i => p.substring(i, i + 3))
  }

  /** The trigram → per-language score table (micro-nat-quantized
    * add-one-smoothed log-probabilities over the union trigram
    * vocabulary), computed ONCE from [[seedLexicon]] and embedded as
    * LITERALS in both the Spark plan and the DuckDB oracle (SparkEntry
    * interpolates the same integers), so the two engines compare
    * identical BIGINTs — the lmPerplexity integer-quantization
    * discipline. Keys sorted for deterministic iteration; scores
    * follow [[trigramLangs]] order. */
  private lazy val trigramCounts: Map[String, Map[String, Long]] =
    seedLexicon.map {
      case (l, ws) => l -> ws.flatMap(wordTrigrams).groupBy(identity)
        .map { case (g, xs) => g -> xs.size.toLong }
    }
  private lazy val trigramVocab: Seq[String] =
    trigramCounts.values.flatMap(_.keys).toSeq.distinct.sorted
  private lazy val trigramDenom: Map[String, Double] =
    trigramLangs.map(l =>
      l -> (trigramCounts(l).values.sum + trigramVocab.size).toDouble).toMap

  val trigramProfile: Seq[(String, Seq[Long])] =
    trigramVocab.map { g =>
      g -> trigramLangs.map { l =>
        math.round(math.log(
          (trigramCounts(l).getOrElse(g, 0L) + 1L).toDouble
            / trigramDenom(l)) * 1e6)
      }
    }


  /** Confidence margin for [[langIdNgram]], in micro-nats: abstain
    * ("und") when `best − second < margin` — the confidence rule a
    * crawl pipeline wants before routing a document to
    * language-specific processing. 300k at 36 languages (raised from
    * the 18-language 200k: a wider field lets a small-lexicon
    * interloper sit closer to the top — the mixed-language fixture's
    * runner-up gap grew to 257k when the field doubled, so the
    * abstain line moved above it).
    *
    * Deliberately FLAT, not per-matched-gram. The per-gram form
    * (`margin · n_hits`) was built and measured first — it reads
    * principled (a long document accumulates absolute gap from pure
    * noise) but the two populations it must separate overlap in
    * per-gram terms: corpus documents sit at ~28k micro-nats/gram
    * median (p25 11k) while a genuinely code-mixed sentence measures
    * ~17k/gram — no per-gram threshold classifies the former and
    * abstains the latter (100k/gram sent 96% of the corpus to "und").
    * The flat total gap separates cleanly: corpus median 2.74M,
    * mixed fixture 257k — 300k abstains 7.8% of the corpus and every
    * mixed/ambiguous fixture. Pinned as one literal shared by both
    * engines (the [[trigramProfile]] discipline). */
  val LangIdMarginMicroNat = 300000L

  /** Character-trigram language ID (Cavnar–Trenkle 1994, "N-Gram-Based
    * Text Categorization", the fastText-free deterministic shape):
    * each document's word-padded trigrams score against the
    * per-language [[trigramProfile]]; prediction = argmax of the
    * summed micro-nat scores, ties to the first of [[trigramLangs]],
    * documents with NO in-profile trigram — or with a top-2 score gap
    * under [[LangIdMarginMicroNat]] — → "und". Out-of-profile
    * trigrams are neutral by contract (profile-intersection scoring)
    * — well-defined on both engines without an unseen-mass constant.
    *
    * Separates CLOSE languages the stopword-hit heuristic ([[langId]])
    * cannot: a stopword-free sentence scores 0 on every stopword list
    * (degenerating to the tie-break), but still carries hundreds of
    * characteristic character transitions (spec-pinned fixture).
    *
    * The profile frame is built GENERICALLY from [[trigramLangs]] —
    * the lexicon is the single source of arity, so adding a language
    * to [[seedLexicon]] regenerates the scorer (and the interpolated
    * oracle) with no code change here.
    *
    * Scale shape: the gram stream collapses AT THE ROW to a
    * per-document histogram (the native
    * [[graft.expressions.TrigramCounts]] expression — one (gram, k)
    * row per DISTINCT in-document trigram instead of one per corpus
    * character), then one BROADCAST equi-join against the dense
    * profile table and ONE doc-keyed aggregate of 36 k-weighted sums
    * (s_l(doc) = Σ_distinct k·s_l(g), exact integers) — the only
    * corpus shuffle. Two alternative spellings were measured and
    * rejected; see the inline note. */
  def langIdNgram(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val profSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("gram",
        org.apache.spark.sql.types.StringType, nullable = false) +:
        trigramLangs.map(l => org.apache.spark.sql.types.StructField(
          s"s_$l", org.apache.spark.sql.types.LongType, nullable = false)))
    val profRows = trigramProfile.map { case (g, ss) =>
      org.apache.spark.sql.Row.fromSeq(g +: ss)
    }
    val prof = spark.createDataFrame(
      spark.sparkContext.parallelize(profRows, 1), profSchema)
    // the gram stream collapses AT THE ROW to a per-document histogram
    // (native [[graft.expressions.TrigramCounts]]): one (gram, k) row
    // per DISTINCT in-document trigram instead of one per corpus
    // character, no shuffle added — s_l(doc) = Σ_distinct k · s_l(g)
    // reassembles the per-occurrence integers exactly. Two slower
    // spellings were built and measured first at sf0.1: the r16
    // per-occurrence explode (1.65 s — the character-proportional rows
    // feed the join and aggregate), and a sparse (gram, lang, delta)
    // fold of the NB kind (2.4–3.3 s — with 36 mostly-Latin languages
    // the common grams fan out to ~10 language rows each, multiplying
    // the aggregate input by more than the narrow rows save); a
    // groupBy(doc, gram) shrink of the explode (2.2 s) pays an extra
    // corpus exchange the row-local histogram gets for free.
    val gk = docs
      .select(col("doc_id"),
        explode(call_function("trigram_counts", tokens(lower(col("text")))))
          .as(Seq("gram", "k")))
    val scores = gk.join(broadcast(prof), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col(s"s_${trigramLangs.head}"))
          .as(s"s_${trigramLangs.head}"),
        trigramLangs.tail.map(l => sum(col("k") * col(s"s_$l")).as(s"s_$l")): _*)
    // argmax + runner-up in LINEAR-size expressions, staged through
    // projected columns: a folded accumulator that re-references its
    // previous step N times grows the tree ~3^N with the language
    // count (measured: the 10-language fold serialized to a 16 MiB
    // task binary and put q_lang_id at 36 s) — `greatest` + a CASE
    // over the projected best keep every stage O(langs). The score
    // columns are all-or-nothing per doc (every profile gram carries
    // every language's smoothed logprob), so null handling rides the
    // best score alone. Ties: the CASE takes the FIRST sorted
    // language; the tied runner-up score then reads as a zero gap ->
    // "und" via the margin.
    val best = greatest(trigramLangs.map(l => col(s"s_$l")): _*)
    val bestLang = trigramLangs.foldRight(lit(null).cast("string")) {
      (l, acc) => when(col(s"s_$l") === col("_bs"), lit(l)).otherwise(acc)
    }
    val second = greatest(trigramLangs.map(l =>
      when(lit(l) === col("_bl"), lit(Long.MinValue))
        .otherwise(col(s"s_$l"))): _*)
    docs.select(col("doc_id"))
      .join(scores, Seq("doc_id"), "left")
      .withColumn("_bs", best)
      .withColumn("_bl", bestLang)
      .withColumn("_ss", second)
      .select(col("doc_id"),
        when(col("_bs").isNull, lit("und"))
          .when(col("_bs") - col("_ss") < LangIdMarginMicroNat, lit("und"))
          .otherwise(col("_bl")).as("predicted"))
  }

  /** Heuristic language ID: argmax of stopword hits (ties broken by
    * language code order — pinned, both engines). One native profile
    * pass per language instead of an interpreted filter lambda each.
    * The REFERENCE baseline [[langIdNgram]] is scored against in
    * TextPipelineSpec — production fidelity lives in the trigram
    * scorer; this stays as the cheap single-Column form. */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val hits = langs.map(l => tokenProfile(text, stopwords(l)).getField("hits"))
    // fold: keep the first language with the strictly-highest hit count
    langs.zip(hits).foldLeft((lit("und"), lit(-1))) {
      case ((bestLang, bestHits), (l, h)) =>
        (when(h > bestHits, lit(l)).otherwise(bestLang),
          when(h > bestHits, h).otherwise(bestHits))
    }._1
  }

  /** Harness entry on the TRIGRAM scorer ([[langIdNgram]]) — upgraded
    * from the stopword-hit heuristic in round 15; the oracle carries
    * the identical profile integers. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"), col("lang"))
      .join(langIdNgram(docs), Seq("doc_id"))
      .withColumn("correct", col("lang") === col("predicted"))
      .orderBy(col("doc_id"))
  }

  /** Quality features + a composite score:
    *  - token count, mean token length, stopword ratio, punctuation
    *    ratio (chars outside [a-z0-9 ]);
    *  - score = stopword_ratio-weighted length signal, the usual
    *    "plausible natural text" heuristic shape.
    *
    * The three token statistics come from ONE native profile pass,
    * projected first so the non-cheap expression is not re-inlined into
    * each consumer (CollapseProject keeps the two-step shape). */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val nTok = col("_p.n_tokens").cast("double")
    val meanTokLen = when(nTok === 0, 0.0)
      .otherwise(col("_p.sum_len").cast("double") / nTok)
    val stopRatio = when(nTok === 0, 0.0)
      .otherwise(col("_p.hits").cast("double") / nTok)
    val nChars = length(col("text")).cast("double")
    val punct = (nChars - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))
      .cast("double"))
    val punctRatio = when(nChars === 0, 0.0).otherwise(punct / nChars)
    docs
      .select(col("doc_id"), col("text"),
        tokenProfile(col("text"), stopwords("en")).as("_p"))
      .select(
        col("doc_id"),
        col("_p.n_tokens").as("n_tokens"),
        meanTokLen.as("mean_token_len"),
        stopRatio.as("stopword_ratio"),
        punctRatio.as("punct_ratio"),
        (stopRatio * 2.0 + when(nTok >= 20, 0.5).otherwise(0.0)
          - punctRatio).as("quality_score"))
  }

  def qQualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityFeatures(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  // --- deterministic corpus split ---

  /** Train/val/test assignment as a portable md5 bucket in [0,100) over
    * the doc id — stable across engines, runs, repartitions, and cluster
    * sizes (never `rand()`: a reshuffled corpus must keep every doc's
    * split). The "split:" salt decouples this hash from other id-derived
    * hashes in the pipeline. */
  def splitBucket(id: Column): Column =
    md5Bits16(concat(lit("split:"), id.cast("string"))) % 100

  def qHashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split",
        when(splitBucket(col("doc_id")) < 80, "train")
          .when(splitBucket(col("doc_id")) < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"), col("lang"))

  /** Language-ID confusion matrix: the n-gram heuristic's prediction
    * against the labeled `lang` column, with per-true-language recall
    * fractions (count/count rationals over a |langs|-partition window).
    * The classifier-evaluation twin of `q_ann_recall` — every heuristic
    * the engine ships gets an empirical scorecard, not just a spec. */
  def qLangIdEval(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"), col("lang"))
      .join(langIdNgram(docs), Seq("doc_id"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("frac",
        col("n_docs").cast("double") /
          sum(col("n_docs")).over(w).cast("double"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Quality percentile normalization per source: each doc's
    * `percent_rank` and `cume_dist` within its source — the
    * distribution-free form quality gates want when sources score on
    * different absolute scales (keep each source's top X%, not a global
    * threshold a verbose source would monopolize). The doc_id tie-break
    * makes ranks unique, so both rank statistics are exact rationals —
    * (rank−1)/(n−1) and rank/n of the same integers — on both engines.
    * One window per source partition; no global ordering. */
  def qQualityPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_score"), col("doc_id"))
    qualityFeatures(docs)
      .select(col("doc_id"), col("quality_score"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        percent_rank().over(w).as("pctl"),
        cume_dist().over(w).as("cd"))
      .orderBy(col("doc_id"))
  }

  /** Reproducibility manifest per split: row count, byte count, and an
    * ORDER-INDEPENDENT content checksum (`bit_xor` of each doc's 60-bit
    * text hash — xor commutes, so the checksum is identical under any
    * partitioning, unlike a concatenated digest). The artifact a
    * training run records so "same split, same bytes" is checkable
    * across environments without moving the data. Null texts hash to
    * NULL, which the xor aggregate skips in both engines — identically
    * absent on both sides. */
  def qSplitManifest(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split",
        when(splitBucket(col("doc_id")) < 80, "train")
          .when(splitBucket(col("doc_id")) < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        bit_xor(md5Bits60(col("text"))).as("content_xor60"))
      .orderBy(col("split"))

  // --- distribution readouts ---

  /** Exact interpolated length quantiles per language — the corpus
    * length-distribution readout (truncation budgets, outlier cuts).
    * Spark's `percentile` and DuckDB's `quantile_cont` share the
    * lower + (upper−lower)·frac definition at index p·(n−1); the
    * typed-hash oracle gate holds bit-for-bit. Exact percentile sorts
    * per group; at 100 TB swap in `approx_percentile` (t-digest,
    * mergeable) the same way the HLL entry does for distincts. */
  def qLengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        expr("percentile(n_chars, 0.5D)").as("median_chars"),
        expr("percentile(n_chars, 0.9D)").as("p90_chars"))
      .orderBy(col("lang"))

  /** Sketch twin of [[qLengthQuantiles]]: `approx_percentile` (a
    * mergeable t-digest — fixed memory per group, partial-aggregable,
    * the 100-TB path where the exact per-group sort is not). Rows-only
    * gate like the HLL entry: the sketch is engine-specific, so the
    * accuracy contract lives in the spec (exact for groups smaller than
    * the accuracy parameter — which also makes the spec deterministic). */
  def qApproxQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        expr("approx_percentile(n_chars, 0.5D, 10000)").as("approx_median"),
        expr("approx_percentile(n_chars, 0.9D, 10000)").as("approx_p90"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  // --- BPE-style regex tokenization ---

  /** GPT-2-shaped pretokenizer pattern, restricted to constructs with
    * identical semantics in Java regex (Spark) and RE2 (DuckDB): no
    * lookahead, leftmost-first alternation only, and the whitespace set
    * spelled as an EXPLICIT class — Java's `\s` includes vertical tab
    * while RE2's does not, so the shorthand would diverge on U+000B.
    * Contraction suffixes split off; letter runs, digit runs, and
    * punctuation runs each form one token with an optional leading space
    * (the BPE convention that makes " word" and "word" distinct
    * vocabulary entries). */
  val BpePattern: String =
    "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \\t\\n\\r\\f']+"

  /** All BPE pretokens of a text — a codegen'd `regexp_extract_all`,
    * no UDF, no per-row vocabulary state. */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Token accounting per document: whitespace tokens vs BPE pretokens
    * vs distinct BPE pretokens — the sizing pass a training-data
    * pipeline runs before tokenizer-budget decisions.
    *
    * The BPE extraction (the dominant per-row cost) is projected ONCE
    * and both counts derive from the projected array; CollapseProject
    * keeps the two-step shape because the alias is non-cheap and
    * referenced twice, so the regex runs one time per row. */
  def qTokenBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens_ws"),
        bpeTokens(col("text")).as("_bpe"))
      .select(col("doc_id"), col("n_tokens_ws"),
        size(col("_bpe")).as("n_tokens_bpe"),
        size(array_distinct(col("_bpe"))).as("n_unique_bpe"))
      .orderBy(col("doc_id"))

  // --- TF-IDF salient terms ---

  /** Top-k salient terms per document, scored tf · N / df. The idf is
    * kept RATIONAL (no log): both engines then compute bit-identical
    * doubles, and the ranking is the same as with log-idf because
    * x ↦ ln(x) is monotone. Shape: explode → (doc, term) count with
    * map-side partial agg, a second agg on term for df, one join back
    * (df table ≪ corpus; AQE broadcasts when it fits), top-k window. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // explode(split) + WHERE, not explode(tokens(...)): the same multiset,
    // but the empty-string drop is a codegen'd predicate instead of an
    // interpreted higher-order filter over every row's array
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") * col("n_docs") / col("df").cast("double"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rk").cast("long").as("rk"))
  }

  def qTfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(Tables.documents(spark, dir), k = 3)
      .orderBy(col("doc_id"), col("rk"))

  /** Rolling-hash document fingerprint (token-order sensitive, unlike the
    * set-based dedup sketches): h = fold(h * 31 + tokenHash) mod 2^31.
    * Integer arithmetic — engine-exact. This is the built-in REFERENCE
    * spelling; the hot path is the native
    * [[graft.expressions.RollingFingerprint]] (ExpressionsSpec proves
    * them bit-identical). */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 31L + md5Bits16(t).cast("long"), lit(2147483648L)))

  def qFingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        call_function("rolling_fingerprint", col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  // --- compression-ratio quality signal ---

  val CompressSuspectBelow = 0.45

  /** Deflate-ratio quality screen ([[graft.expressions.DeflateRatio]]):
    * template spam and boilerplate compress far below natural prose, so
    * a low ratio flags a doc with no language model in the loop — the
    * CCNet/Gopher-family signal the repetition gate approximates with
    * n-gram fractions. Rows-only gate like the t-digest/HLL entries:
    * DuckDB carries no zlib, so the monotonicity/bounds contract lives
    * in ExpressionsSpec instead of the hash oracle. Map-side only —
    * one native eval per row inside the scan projection. */
  def qCompressRatio(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        call_function("deflate_ratio", col("text")).as("deflate_ratio"))
      .withColumn("is_suspect",
        (col("deflate_ratio") < CompressSuspectBelow).cast("long"))
      .orderBy(col("doc_id"))
  }
}
