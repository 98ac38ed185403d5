package graft.core

/** Deterministic built-in dictionaries.
  *
  * The reference drives mention detection from hand-written per-language
  * word sets (titles / org-heads / loc-heads / gpe-heads,
  * utils/segnerfts/segnerfts.py:163-658) plus a gazetteer CSV of labeled
  * entries (segnerfts.py:25-49, utils/gaz.csv) and span→label lookup
  * tables (utils/post_process.py:36-69). We re-derive equivalents as
  * fixed in-code data — no external files, fully reproducible (SURVEY.md
  * §7.3). Entries over the synthetic corpus vocabulary double as the
  * entity dictionary for linking.
  */
object Dict {

  /** BIO tags over the 4 LORELEI entity types (segnerfts.py labels
    * GPE/LOC/ORG/PER). Canonical id order = lexicographic (SURVEY.md
    * §1.4: reference ids are dict-order nondeterministic; ours are
    * pinned by sort). O is last; virtual START=K, END=K+1 follow. */
  val entityTypes: Vector[String] = Vector("GPE", "LOC", "ORG", "PER")
  val tags: Vector[String] =
    (entityTypes.flatMap(t => Vector(s"B-$t", s"I-$t")) :+ "O").sorted
  val tagId: Map[String, Int] = tags.zipWithIndex.toMap
  val K: Int = tags.size // 9
  val O: Int = tagId("O")

  /** BIO/virtual-tag wall STRUCTURE (constraint set of
    * decoders.py:17-25 / model_builder.py:13-22 + the START-column /
    * END-row walls of decoders.py:48-58). Lives HERE, below every
    * model object, so `Crf.emissionWeights → DefaultModel.fitted →
    * FitCrf.weights → walls` never routes back into Crf — two threads
    * initializing Crf and DefaultModel concurrently would otherwise
    * deadlock on opposite-order lazy-val monitors. START = K,
    * END = K+1 as everywhere. */
  val walls: Array[Array[Boolean]] = {
    val start = K; val end = K + 1
    val w = Array.fill(K + 2, K + 2)(false)
    for (from <- 0 until K + 2) w(from)(start) = true
    for (to <- 0 until K + 2) w(end)(to) = true
    for (x <- entityTypes) {
      val iTag = tagId(s"I-$x")
      w(O)(iTag) = true
      w(start)(iTag) = true
      for (y <- entityTypes if y != x) {
        w(tagId(s"B-$y"))(iTag) = true
        w(tagId(s"I-$y"))(iTag) = true
      }
    }
    w
  }

  /** English title words — semantics of ex_title (segnerfts.py:163-211;
    * NB the reference tests the token itself, not the preceding token,
    * despite its README — SURVEY.md §2.3). */
  val titles: Set[String] = Set(
    "Mr.", "Mr", "Mrs.", "Mrs", "Ms.", "Ms", "Dr.", "Dr", "Prof.", "Prof",
    "President", "Senator", "Minister", "Chairman", "Director", "General",
    "Colonel", "Captain", "Judge", "Mayor", "Governor", "Secretary",
    "Ambassador", "King", "Queen", "Prince", "Princess", "Sheikh", "Imam")

  /** Org-head words (ex_head_org, segnerfts.py:363-467 eng list). */
  val orgHeads: Set[String] = Set(
    "Ministry", "Department", "Agency", "Committee", "Commission",
    "Council", "Bank", "Corporation", "Company", "University", "Institute",
    "Association", "Organization", "Party", "Union", "Foundation", "Group")

  /** Loc-head words (ex_head_loc, segnerfts.py:470-566 eng list). */
  val locHeads: Set[String] = Set(
    "River", "Lake", "Mountain", "Mount", "Valley", "Desert", "Island",
    "Sea", "Ocean", "Bay", "Gulf", "Forest", "Hills", "Falls")

  /** Gpe-head words (ex_head_gpe, segnerfts.py:569-658 eng list). */
  val gpeHeads: Set[String] = Set(
    "City", "Town", "Village", "County", "Province", "State", "Region",
    "District", "Republic", "Kingdom", "Federation", "Territory")

  /** The entity dictionary: (entry tokens, label, canonical KB id).
    * Plays the role of the reference's gazetteer (segnerfts.py:25-49)
    * for features AND the broadcast entity dictionary the north star
    * links against. Two strata:
    *   (a) proper-noun entries planted by the synthetic corpus
    *       generator (tests);
    *   (b) lowercase entries over the driver `documents` vocabulary so
    *       Verify/Bench runs on /root/testdata produce mentions.
    * All deterministic, in-code. */
  val gazetteer: Vector[(Vector[String], String)] = {
    val per = Vector(
      "Ada Lovelace", "Alan Turing", "Grace Hopper", "Donald Knuth",
      "Barbara Liskov", "Edsger Dijkstra", "John McCarthy", "Tony Hoare",
      "Leslie Lamport", "Margaret Hamilton", "Tim Berners-Lee",
      "Linus Torvalds", "Guido van Rossum", "Martin Odersky",
      "Niklaus Wirth", "Dennis Ritchie", "Ken Thompson", "Bjarne Stroustrup",
      "Frances Allen", "Shafi Goldwasser").map(_ -> "PER")
    val org = Vector(
      "Apache Software Foundation", "Free Software Foundation",
      "Linux Foundation", "World Bank", "United Nations", "Red Cross",
      "Carnegie Mellon University", "Stanford University",
      "Oxford University", "Ministry of Finance", "Central Bank",
      "Trade Commission", "Labor Party", "Green Party",
      "National Science Foundation", "Mozilla Foundation",
      "Eclipse Foundation", "Bell Labs", "Xerox PARC",
      "Royal Society").map(_ -> "ORG")
    val loc = Vector(
      "Nile River", "Lake Tana", "Blue Nile", "Mount Kenya",
      "Rift Valley", "Red Sea", "Indian Ocean", "Sahara Desert",
      "Atlas Mountains", "Victoria Falls", "Congo River", "Lake Victoria",
      "Horn of Africa", "Simien Mountains", "Danakil Desert",
      "Awash River", "Omo Valley", "Bale Mountains", "Tigray Hills",
      "Zambezi River").map(_ -> "LOC")
    val gpe = Vector(
      "Addis Ababa", "Ethiopia", "Eritrea", "Tigray", "Oromia",
      "Kenya", "Nairobi", "Somalia", "Mogadishu", "Djibouti",
      "Sudan", "Khartoum", "Uganda", "Kampala", "Tanzania",
      "Dodoma", "Asmara", "Mekelle", "Adama", "Hawassa").map(_ -> "GPE")
    // Lowercase entries over the documents-table vocabulary (31 words);
    // multi-token entries exercise the n-gram matcher at bench scale.
    val code = Vector(
      ("spark", "ORG"), ("hash join", "ORG"), ("merge sort", "ORG"),
      ("big data", "ORG"), ("customer", "PER"), ("window agg", "ORG"),
      ("sort merge", "ORG"), ("stream batch", "ORG"),
      ("column scan", "LOC"), ("row group", "LOC"), ("data table", "LOC"),
      ("key value", "GPE"), ("query line", "GPE"), ("fast scan", "GPE"))
    (per ++ org ++ loc ++ gpe).map { case (s, l) =>
      (s.split(' ').toVector, l)
    } ++ code.map { case (s, l) => (s.split(' ').toVector, l) }
  }

  /** Gazetteer n-gram index keyed by (lowercased first token), holding
    * (entry tokens lowercased, label, entryId). Probe per token, try
    * longest entries first (SURVEY.md §2.5 "broadcast hash join on
    * sequences"; reference sliding match segnerfts.py:55-85). */
  lazy val gazIndex: Map[String, Vector[(Vector[String], String, Int)]] =
    gazIndexOf(gazetteer)

  /** Span→label lookup table for post-process fix-up
    * (post_process.py:58-69), ambiguity already removed (50-55). */
  val lookupTable: Map[String, String] = lookupTableOf(gazetteer)

  /** lookupTable re-indexed by first token for the span-insertion
    * probe: only positions whose token can start an entry pay any
    * allocation (same shape as [[gazIndex]]; building every n-gram
    * string and probing a flat map is allocation-bound at scale). */
  lazy val lookupIndex: Map[String, Vector[(Vector[String], String)]] =
    lookupIndexOf(gazetteer)

  // ---- the three dictionary tables of an ordered (tokens, label)
  // entry list: the eng vals above pass `gazetteer`, every other
  // language its gaz through graft.crf.LangModel ----

  private def lower(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)

  /** [[gazIndex]]'s shape over `entries`: lowercased first token →
    * (lowercased entry tokens, label, entry id = position in
    * `entries`), longest entry first, then lowest id. */
  def gazIndexOf(entries: Seq[(Vector[String], String)])
      : Map[String, Vector[(Vector[String], String, Int)]] =
    entries.zipWithIndex
      .map { case ((toks, l), id) => (toks.map(lower), l, id) }
      .groupBy(_._1.head)
      .view.mapValues(_.sortBy(e => (-e._1.length, e._3)).toVector)
      .toMap

  /** [[lookupTable]]'s shape over `entries`: lowercased entry string →
    * label, entries carrying more than one label dropped. */
  def lookupTableOf(entries: Seq[(Vector[String], String)])
      : Map[String, String] =
    entries.map { case (toks, l) => lower(toks.mkString(" ")) -> l }
      .groupBy(_._1)
      .collect { case (k, vs) if vs.map(_._2).distinct.size == 1 =>
        k -> vs.head._2
      }

  /** [[lookupIndex]]'s shape over `entries`: [[lookupTableOf]]
    * re-indexed by first token, longest entry first, then entry
    * string. */
  def lookupIndexOf(entries: Seq[(Vector[String], String)])
      : Map[String, Vector[(Vector[String], String)]] =
    lookupTableOf(entries).toVector
      .map { case (text, tag) => (text.split(' ').toVector, tag) }
      .groupBy(_._1.head)
      .view.mapValues(_.sortBy(e => (-e._1.length, e._1.mkString(" "))))
      .toMap

  /** Canonical entity id for a dictionary entry (the KB id the linker
    * resolves to; replaces the reference's NIL column,
    * post_process.py:29-33). */
  def kbId(entryId: Int): String = f"Q${entryId + 1}%05d"

  /** Filler (non-entity) vocabulary for the synthetic corpus. */
  val filler: Vector[String] = Vector(
    "the", "a", "of", "in", "on", "at", "to", "and", "or", "with",
    "reads", "writes", "builds", "parses", "emits", "joins", "scans",
    "sorted", "cached", "shuffled", "partitioned", "broadcast",
    "today", "yesterday", "quickly", "slowly", "however", "therefore",
    "value", "buffer", "index", "schema", "vector", "metric", "record")
}
