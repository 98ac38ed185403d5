package graft.core

/** Per-language feature word lists and matchers, carried verbatim from
  * the reference's hand-written extractors
  * (utils/segnerfts/segnerfts.py:163-678): title words (163-360),
  * org-head words (363-467), loc-head words/suffix-regexes (470-566),
  * gpe-head words/suffix-regexes (569-658) and the from/in preposition
  * matchers (661-678) for eng/deu/amh/orm/tir/som.
  *
  * The entries are reference DATA (public in-tree word lists), kept
  * byte-identical so [[graft.features.LangFeatures]] reproduces
  * `segnerfts.extract` exactly; each language's comparison policy is
  * also the reference's: orm titles and orm/som heads compare
  * lowercased (`w.lower() in {...}`), deu loc/gpe heads are suffix
  * regex searches, amh prepositions are prefix matches (`re.match`),
  * tir/som prepositions compare the exact surface form.
  *
  * [[graft.core.Dict]] remains the engine's own deterministic
  * dictionary (synthetic corpus + linking); this object is the
  * reference-parity surface.
  */
object LangDict {

  val langs: Vector[String] =
    Vector("amh", "deu", "eng", "orm", "som", "tir")

  /** How a language's membership test treats the token (reference:
    * `w in {...}` vs `w.lower() in {...}`). */
  final case class WordSet(words: Set[String], lowercase: Boolean) {
    def apply(w: String): Boolean =
      if (lowercase) words.contains(w.toLowerCase(java.util.Locale.ROOT))
      else words.contains(w)
  }
  private def exact(ws: String*) = WordSet(ws.toSet, lowercase = false)
  private def lower(ws: String*) = WordSet(ws.toSet, lowercase = true)
  private val none = WordSet(Set.empty, lowercase = false)

  // ---- ex_title (segnerfts.py:163-360) --------------------------------

  val titles: Map[String, WordSet] = Map(
    "eng" -> exact(
      "Mister", "Mr.", "Mr", "Misses", "Mrs.", "Mrs", "Miss", "Ms.", "Ms",
      "Doctor", "Dr.", "Dr", "Professor", "Prof.", "Prof", "Father",
      "Fr.", "Fr", "Reverend", "Rev.", "Rev", "Revd", "Pastor", "Bishop",
      "Bp.", "Bp", "President", "Pres.", "Representative", "Rep.", "Rep",
      "Congressman", "Congresswoman", "Congressperson", "Senator",
      "Sen.", "Sen", "Secretary", "Sec.", "Sec", "Lord", "Lady",
      "Justice", "Sheriff", "Principal", "Mayor"),
    "deu" -> exact(
      "Herr", "Hr.", "Frau", "Fr.", "Fraulein", "Frl.", "Doktor", "Dr.",
      "Dr.med.", "Dr.phil.", "Dr.rer.nat.", "Dr.jur.", "Dr.theol.",
      "Professor", "Prof.", "a.o.Prof.", "o.Pr.", "Dozent", "Doz.",
      "Richter", "Senator", "Sen.", "Ministerpräsident",
      "Ministerpräsidentin", "Bürgermeister", "Abgeordenete", "Abg.",
      "Bundeskanzler", "Landeshauptmann", "Kaiser", "Kaiserin", "König",
      "Königin", "Kurfürst", "Kurfürstin", "Erzherzog", "Erzherzogin",
      "Großherzog", "Großherzogin", "Großfürst", "Großfürstin", "Herzog",
      "Herzogin", "Pfalzgraf", "Pfalzgräfin", "Markgraf", "Markgräfin",
      "Landgraf", "Landgräfin", "Reichsfürst", "Reichsfürstin",
      "Reichsgraf", "Reichsgräfin", "Burggraf", "Burggräfin", "Altgraf",
      "Altgräfin", "Reichsfreiherr", "Reichsfreifrau", "Reichsfreiin",
      "Reichsritter", "Ritter", "Graf", "Gräfin", "Edler", "Edle",
      "Freifrau", "Frfr.", "Freiherr", "Frhr.", "Hochwürden", "Pater",
      "Pfarrer", "Pastor", "P.", "Pfarrhelfer", "Kaplan", "Vikar",
      "Dekan", "Bischof", "Kapitän", "Kpt.", "Leutnant", "Lt.",
      "Vorsitzender", "Vors."),
    "amh" -> exact(
      "አቶ", "ወይዘሮ", "ወይዘሪት", "ፕሮፌሰር", "ፕሬዚዳንት", "ፐሬዝዳንት", "ፕሬዝዳንት",
      "ኮለኔል", "ጄኔራል", "አቡነ", "ቀስ", "ሰላም", "ሼኽ", "ራስ", "ቢትወደድ",
      "ወ/ሮ", "ወ/ሪት", "ድ/ር", "ፕ/ር", "ፕ/ት", "ኮ/ል", "ጄ/ል", "አዛዥና",
      "ልዑል", "ሚኒስቴር", "ዕድሜው", "ወታደር", "ም/ል", "ጸሃፊ", "ረዳት", "ጸሐፊ",
      "አምባሳደር", "አስተዳዳሪ", "ሪፖርተራችን"),
    "orm" -> lower(
      "obbo", "obboo", "obo", "abbaa", "aba", "ministeeraa",
      "durataa'aa", "jeneraal"),
    "tir" -> exact(
      "ኣቶ", "ጐይታይ", "ሓላፊ", "ሓለቓ", "ወዘተ", "ፕረሲደንት", "ፕሬዝዳንት", "ኣቦ"),
    "som" -> none)

  // ---- ex_head_org (segnerfts.py:363-467) -----------------------------

  val orgHeads: Map[String, WordSet] = Map(
    "eng" -> exact(
      "Ministry", "Department", "Agency", "Bureau", "Company",
      "Corporation", "Inc.", "Inc", "Corp.", "Corp", "Authority",
      "Organization", "Organisation", "Committee", "Bank"),
    "deu" -> exact(
      "Amt", "Ministerium", "Agentur", "Büro", "Organisation",
      "Abteilung", "Abt.", "Aktiengesellschaft", "AG", "Union",
      "Genossenschaft", "Gen.", "Gesellschaft", "GmbH", "HTL",
      "Regierung", "Verband", "Kommission", "Bank"),
    "amh" -> exact(
      "ሚኒስቴር", "ኤጀንሲ", "ኮሚሽን", "ኮርፖሬሽን", "ድርጅት", "ባለሥልጣን", "ባንክ",
      "ቢሮ", "ኮሚቴ", "ምንጮች", "ፓርቲ", "ፓርቲን", "ጋዜጣ"),
    "orm" -> lower(
      "ministirii", "ministiri", "damiyyaa", "damiyya", "wakkiila",
      "wakila", "dhaabbata", "dhabata", "koree", "kore", "baankii",
      "banki", "waldaa", "walda", "waraanni", "warnani"),
    "tir" -> exact(
      "ክፍሊ", "ጨንፈር", "ዋኒን", "ተግባር", "ስርሒት", "ኤጄንሲ", "ሰደቓ", "ኮርፖረሽን",
      "ውድብ", "ኣወዳድባ", "ኣመሰራርታ", "ኮመት", "ሽማግለ", "ሰራዊት", "ስርዓት"),
    "som" -> lower(
      "dowladda", "maamulka", "xafiiska", "wasaaradda", "hay'adda",
      "shirkadda", "saacadaha", "guddi", "bankiga", "ciidamada",
      "kooxda", "shabakada"))

  // ---- ex_head_loc (segnerfts.py:470-566) -----------------------------

  val locHeads: Map[String, WordSet] = Map(
    "eng" -> exact(
      "Island", "Lake", "River", "Sea", "Ocean", "Mountain", "Mountains",
      "Valley", "Bay", "Mosque", "Cathedral", "Church"),
    "amh" -> exact(
      "ደሴት", "ሐይክ", "ወንዝ", "ባህር", "ወቅያኖስ", "ተራራ", "ሸለቆ", "ሰፈር",
      "ወሽመጥ", "መስጊድ", "ሀገር", "ሆስፒታል"),
    "orm" -> lower(
      "odoola", "odola", "odoolota", "odolota", "calalaqa", "dabbal",
      "dabal", "hara", "laaqii", "laqi", "lagaa", "laga", "garba",
      "maanya", "manya", "gooroo", "goro", "gaara", "sulula",
      "bataskaana", "masqiida"),
    "tir" -> exact(
      "ደሴት", "ግሉል", "ብሕቱው", "ቀላይ", "ወይናይ", "ፈለግ", "ባሕሪ", "ሰፊሕ", "ጎቦ",
      "እምባ", "ሩባ", "ለሰ", "ሕሉም", "ስንጭሮ", "በተኽስያን", "መስጊድ"),
    "som" -> lower(
      "jasiirad", "harada", "buurta", "dooxada", "badweynta", "webiga",
      "masaajid", "hoteel", "hotelka", "hotel", "degmada", "deegaanka"))

  /** deu loc heads are suffix-regex searches (segnerfts.py:485-496). */
  val deuLocSuffixes: Vector[String] = Vector(
    "[Bb]erg$", "[Gg]ebirge$", "[Ss]ee$", "[Mm]eer$", "[Oo]zean$",
    "[Tt]al$", "wald$", "[Bb]ucht$", "[Kk]irche$", "[Mm]oschee$")

  // ---- ex_head_gpe (segnerfts.py:569-658) -----------------------------

  val gpeHeads: Map[String, WordSet] = Map(
    "eng" -> exact(
      "District", "Zone", "Region", "Province", "Division", "Republic",
      "Nation", "City", "Town", "Village", "State"),
    "amh" -> exact(
      "ከተማ", "መንደር", "ቀበሌ", "ወረዳ", "ዞን", "ክልል", "አውራጃ", "መንግስት",
      "ክፍላት", "ጦር", "ዙሪያ", "ላይ", "ተከማ"),
    "orm" -> lower(
      "koonyaa", "konya", "aanaa", "ana", "goltaa", "golta", "godina",
      "naannoo", "nano", "jamuriyaa", "jamuriya", "republika",
      "magaalaa", "magala", "magaalaan", "magalan", "daabbaa", "daba",
      "dira", "gandaa", "ganda", "mootummaa", "motuma", "biyya"),
    "tir" -> exact(
      "ወረዳ", "ዞባ", "ከተማ", "ዞና", "መንግስቲ", "ኣውራጃ", "ረፑብሊክ", "ገጠር",
      "ቁሸት", "ዓዲ"),
    "som" -> lower(
      "dalka", "dalalka", "gobolka", "magaalada", "tuulo",
      "jamhuuriyadda"))

  /** deu gpe heads are suffix-regex searches (segnerfts.py:583-595). */
  val deuGpeSuffixes: Vector[String] = Vector(
    "[rR]epublik$", "land$", "stan$", "[sS]tadt$", "heim$", "dorf$",
    "hausen$", "burg$", "berg$", "gau$", "[pP]rovinz$")

  private val deuLocRe = deuLocSuffixes.map(_.r.unanchored)
  private val deuGpeRe = deuGpeSuffixes.map(_.r.unanchored)

  def isTitle(lang: String, w: String): Boolean =
    titles.get(lang).exists(_.apply(w))
  def isOrgHead(lang: String, w: String): Boolean =
    orgHeads.get(lang).exists(_.apply(w))
  def isLocHead(lang: String, w: String): Boolean =
    if (lang == "deu") deuLocRe.exists(_.findFirstIn(w).isDefined)
    else locHeads.get(lang).exists(_.apply(w))
  def isGpeHead(lang: String, w: String): Boolean =
    if (lang == "deu") deuGpeRe.exists(_.findFirstIn(w).isDefined)
    else gpeHeads.get(lang).exists(_.apply(w))

  // ---- ex_prep_from / ex_prep_in (segnerfts.py:661-678) ---------------

  /** amh prepositions are PREFIX matches (`re.match('ከ', w)`); tir/som
    * compare the exact surface; eng/deu/orm compare lowercased. */
  def isPrepFrom(lang: String, w: String): Boolean = lang match {
    case "eng" => w.toLowerCase(java.util.Locale.ROOT) == "from"
    case "deu" =>
      val l = w.toLowerCase(java.util.Locale.ROOT); l == "von" || l == "vom"
    case "amh" => w.startsWith("ከ")
    case "orm" =>
      val l = w.toLowerCase(java.util.Locale.ROOT); l == "irraa" || l == "ira"
    case "tir" => w == "ካብ"
    case "som" => w == "ilaa"
    case _ => false
  }

  def isPrepIn(lang: String, w: String): Boolean = lang match {
    case "eng" => w.toLowerCase(java.util.Locale.ROOT) == "in"
    case "deu" =>
      val l = w.toLowerCase(java.util.Locale.ROOT); l == "in" || l == "im"
    case "amh" => w.startsWith("በ")
    case "orm" =>
      val l = w.toLowerCase(java.util.Locale.ROOT)
      l == "keessa" || l == "kesa" || l == "itti" || l == "iti"
    case "tir" => w == "ኣብ"
    case "som" => w == "ee"
    case _ => false
  }

  // ---- load_gaz (segnerfts.py:20-49) ----------------------------------

  /** One gazetteer entry: exact (case-sensitive) token sequence. */
  type Gaz = Map[String, Vector[Vector[String]]] // label -> entries

  /** The reference's gaz.csv loader semantics: only the Tigrinya (c2)
    * and Oromo (c4) columns carry entries; `'; '`→`';'` then split on
    * `';'` gives variants, each whitespace-split into a token tuple;
    * unlabeled rows default to GPE only when the ENGLISH form is a
    * single token, otherwise they are dropped (segnerfts.py:38-47). */
  def loadGaz(rows: Seq[(String, String, String, String)])
      : Map[String, Gaz] = {
    def variants(raw: String): Vector[Vector[String]] =
      raw.replace("; ", ";").split(';').toVector
        .map(v => v.split("\\s+").filter(_.nonEmpty).toVector)
        .filter(_.nonEmpty)
    val empty: Gaz = Map("GPE" -> Vector(), "LOC" -> Vector(),
      "ORG" -> Vector(), "PER" -> Vector())
    var tir = empty; var orm = empty
    rows.foreach { case (eng, label0, t, o) =>
      val label =
        if (label0 != null && label0.nonEmpty) label0
        else if (eng != null && eng.split("\\s+").count(_.nonEmpty) == 1)
          "GPE"
        else ""
      if (label.nonEmpty && empty.contains(label)) {
        if (t != null && t.nonEmpty)
          tir = tir.updated(label, tir(label) ++ variants(t))
        if (o != null && o.nonEmpty)
          orm = orm.updated(label, orm(label) ++ variants(o))
      }
    }
    Map("tir" -> tir, "orm" -> orm,
      "amh" -> empty, "eng" -> empty, "deu" -> empty, "som" -> empty)
  }

  /** Strict RFC-4180 record split: comma delimiter, `"`-quoted fields
    * with doubled-quote escapes, embedded delimiters/newlines legal
    * inside quotes — the exact dialect of the reference's `csv.reader`
    * defaults (doublequote=True, no escapechar) and of DuckDB's
    * `read_csv`, so the engine, the oracle and the reference can never
    * desynchronize on a future gaz.csv row with embedded quotes
    * (ADVICE r4: Spark's CSV reader defaults to backslash-escape). */
  private[graft] def parseCsv(text: String): Vector[Vector[String]] = {
    val records = Vector.newBuilder[Vector[String]]
    var fields = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var sawAny = false
    var i = 0
    val n = text.length
    def endField(): Unit = { fields += cur.toString; cur.clear() }
    def endRecord(): Unit = {
      endField(); records += fields.result(); fields = Vector.newBuilder
      sawAny = false
    }
    while (i < n) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < n && text.charAt(i + 1) == '"') {
            cur.append('"'); i += 1
          } else inQuotes = false
        } else cur.append(c)
      } else c match {
        case '"' => inQuotes = true; sawAny = true
        case ',' => endField(); sawAny = true
        case '\r' =>
          if (i + 1 < n && text.charAt(i + 1) == '\n') i += 1
          endRecord()
        case '\n' => endRecord()
        case other => cur.append(other); sawAny = true
      }
      i += 1
    }
    if (sawAny || cur.nonEmpty) endRecord()
    records.result()
  }

  /** The in-tree gaz.csv as loader input rows (English, Label,
    * Tigrinya, Oromo — columns 0,1,2,4 of utils/gaz.csv), header row
    * skipped. Empty cells surface as "" (the loader's null/empty
    * checks treat both alike). Driver-side plain-file read: the file
    * is a 1.3k-row dimension table. */
  def gazCsvRows(path: String = RefData.gaz.existing)
      : Seq[(String, String, String, String)] = {
    val text = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8)
    def cell(r: Vector[String], i: Int): String =
      if (i < r.length) r(i) else ""
    parseCsv(text).drop(1)
      .map(r => (cell(r, 0), cell(r, 1), cell(r, 2), cell(r, 4)))
  }
}
