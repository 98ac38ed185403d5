package graft.features

/** The reference's morphological gloss features.
  *
  * Reference semantics (`utils/segnerfts/segnerfts.py`):
  *  - 18 feature sets at `segnerfts.py:706-728` (the constants
  *    `MORPH_START, MORPH_END = 24, 47` at :736 claim 23 slots, but the
  *    extractor list holds 18 — python slicing truncates silently, so
  *    18 IS the reference's behavior);
  *  - `ex_morph` (:104-115): token → analyzer parses (ALL parses:
  *    `BEST_PARSE = False`, :13) → each parse's gloss string split on
  *    `[-.]` (:98-101) → union over parses → feature_i = (union ∩
  *    featureSet_i) nonempty; a token with no parse is False for every
  *    feature.
  *
  * The analyzer is PLUGGABLE, and in this library the Ethiopic ones are
  * STUBBED: the reference's orm/tir analyzers are a parser-combinator
  * morphology engine needing external resources (epitran, NLTK corpora,
  * pickled dictionaries — `orm_morph.py:6-26`) that cannot ship in an
  * offline library. Like the media codecs (Multimodal.decodeStub), the
  * analyzer is the drop-in point; the gloss algebra around it — the
  * actual operator — is real and oracle-gated (q54). eng/deu/amh/som
  * return no parses in the reference (`segnerfts.py:89-94`):
  * [[Morph.EmptyAnalyzer]] reproduces that exactly, so English decode
  * pipelines are bit-identical with or without the morph block.
  */
object Morph {

  trait Analyzer extends Serializable {
    /** All morphological parses of a token, each a gloss string whose
      * `[-.]`-separated segments are gloss tags (reference
      * representation_name/channel = 'gloss'). */
    def parses(token: String): Seq[String]
  }

  /** The reference's eng/deu/amh/som behavior: no parses ever. */
  object EmptyAnalyzer extends Analyzer {
    override def parses(token: String): Seq[String] = Nil
  }

  /** ==== STUB ==== deterministic suffix-table fake standing in for
    * the real orm/tir analyzers (which need epitran + NLTK + pickled
    * dictionaries). Matches every table suffix independently (a token
    * can yield several parses — exercising the all-parses union the
    * reference gets from BEST_PARSE=False). A real analyzer replaces
    * ONLY this class. */
  final class SuffixStubAnalyzer(table: Seq[(String, String)])
      extends Analyzer {
    override def parses(token: String): Seq[String] = {
      val lower = token.toLowerCase(java.util.Locale.ROOT)
      table.collect {
        case (suf, gloss) if lower.length > suf.length &&
            lower.endsWith(suf) =>
          s"${token.dropRight(suf.length)}-$gloss"
      }
    }
  }

  /** Default stub table (gloss tags drawn from [[featureSets]] so the
    * plumbing is testable; the SUFFIXES are a fake, not linguistics). */
  val stubTable: Seq[(String, String)] = Seq(
    "oota" -> "PL", "ni" -> "NOM", "tiin" -> "INST", "dhaf" -> "DAT",
    "irraa" -> "ABL", "koo" -> "POSS.1SG")

  def forLang(lang: String): Analyzer = lang match {
    case "orm" | "tir" => new SuffixStubAnalyzer(stubTable)
    case _ => EmptyAnalyzer // eng/deu/amh/som: segnerfts.py:89-94
  }

  /** Pure-string twin of [[graft.conll.ConllOps.ormNormalize]]'s
    * lowercase branch (the 8 ordered rewrite rules of
    * utils/orm_norm/ormnorm.py:6-15) — the reference analyzer parses
    * `normalize(word)` (segnerfts/orm_morph.py:289). */
  def ormNormalizeString(w: String): String =
    graft.conll.ConllOps.ormPatterns
      .foldLeft(w.toLowerCase(java.util.Locale.ROOT)) {
      case (acc, (p, r)) => acc.replaceAll(p, r)
    }

  /** Lexicon-backed Oromo analyzer — the offline-feasible stand-in
    * derived from the reference's SHIPPED lexicon
    * (utils/orm_norm/orm_lexicon.txt: `english-gloss \t oromo` rows;
    * the real engine's Lookup consumes the same files,
    * segnerfts/orm_morph.py:270). A parse is stem-gloss (the English
    * side, '.'-joined so [[glossSet]] splits it into tags) plus the
    * glosses of up to two stripped suffixes from a table of standard
    * Oromo nominal morphology (public grammar; surfaces normalized by
    * the same rules as stems and tokens). ALL decompositions are
    * returned (BEST_PARSE = False semantics). Replaces ONLY the
    * Analyzer plug; the gloss algebra above is untouched. */
  final class LexiconAnalyzer(stems: Map[String, Seq[String]],
      suffixes: Seq[(String, String)]) extends Analyzer {
    override def parses(token: String): Seq[String] = {
      val w = ormNormalizeString(token)
      val out = Seq.newBuilder[String]
      // normalization can collapse distinct lexicon stems onto one
      // surface — EVERY colliding stem contributes a parse, which is
      // the all-parses (BEST_PARSE = False) semantics anyway
      def tryStem(rest: String, sufGloss: List[String]): Unit =
        stems.getOrElse(rest, Nil).foreach { g =>
          out += (g :: sufGloss).mkString("-")
        }
      tryStem(w, Nil)
      for ((s1, g1) <- suffixes if w.length > s1.length &&
          w.endsWith(s1)) {
        val r1 = w.dropRight(s1.length)
        tryStem(r1, g1 :: Nil)
        for ((s2, g2) <- suffixes if r1.length > s2.length &&
            r1.endsWith(s2)) {
          tryStem(r1.dropRight(s2.length), g2 :: g1 :: Nil)
        }
      }
      out.result()
    }
  }

  /** Standard Oromo nominal suffixes (public grammar), glosses drawn
    * from the reference's feature sets; surfaces are stored normalized
    * (e.g. `-tiin` → `tin`, `-oota` → `ota`) to compose with
    * [[ormNormalizeString]]. */
  val ormSuffixes: Seq[(String, String)] = Seq(
    "oota" -> "PL", "wwan" -> "PL", "lee" -> "PL",
    "tiin" -> "INST", "dhaan" -> "INST",
    "dhaaf" -> "DAT", "irraa" -> "ABL",
    "icha" -> "DEF.M", "ittii" -> "DEF.F",
    "koo" -> "POSS.1SG", "kee" -> "POSS.2SG", "isaa" -> "POSS.3SG",
    "keenya" -> "POSS.1PL", "keessan" -> "POSS.2PL",
    "uu" -> "INF", "ni" -> "NOM", "n" -> "NOM", "f" -> "DAT")
    .map { case (s, g) => (ormNormalizeString(s), g) }
    .distinct

  /** Build a [[LexiconAnalyzer]] from a lexicon file (default: the
    * reference's shipped orm_lexicon.txt). Single-token Oromo surfaces
    * become stems; the English side becomes the stem gloss
    * ('.'-joined). Driver-side load (the lexicon is dictionary-sized),
    * broadcast by callers like every other dictionary. */
  def lexiconAnalyzer(
      path: String = graft.core.RefData.ormLexicon.existing)
      : LexiconAnalyzer = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val stems =
      try {
        src.getLines().flatMap { line =>
          val fs = line.split('\t')
          if (fs.length == 2) {
            val orm = fs(1).replace("﻿", "").trim
            val gloss = fs(0).trim.replaceAll("[\\s]+", ".")
            if (orm.nonEmpty && !orm.contains(' ') && gloss.nonEmpty)
              Some(ormNormalizeString(orm) -> gloss)
            else None
          } else None
        }.toSeq.groupBy(_._1).view
          .mapValues(_.map(_._2).distinct).toMap
      } finally src.close()
    new LexiconAnalyzer(stems, ormSuffixes)
  }

  // ---- Tigrinya (tir) analyzer, mined from in-tree tables -----------

  /** Tigrinya affix analyzer — the offline-feasible mirror of the
    * reference's tir parser-combinator morphology
    * (utils/segnerfts/tir_morph.py:303-470). Every affix surface and
    * gloss below is copied from those in-tree tables (public text);
    * what CANNOT ship offline is epitran's Ge'ez→IPA step (g2p,
    * tir_morph.py:650+), so this analyzer consumes IPA-form tokens —
    * the same representation the reference's parser itself runs on —
    * and g2p remains the documented plug, exactly like the media
    * codecs.
    *
    * Parse enumeration mirrors `PARSER = (REL|CONJ) >>
    * (TENSE|PREP|VDERIV) >> ROOT << NUMBER << CLITICS << NEG <<
    * (CASE|ADJ|NOMINAL|CONJ_SUF)` (tir_morph.py:575-578) with
    * BEST_PARSE=False union semantics: each affix slot optionally
    * fires, all decompositions are returned, costs are irrelevant to
    * the gloss-set union the feature algebra consumes. INSERT_I
    * (tir_morph.py:329) is handled by accepting an epenthetic `ɨ`
    * before any suffix. */
  final class TirAnalyzer extends Analyzer {
    import Morph.{tirPrefixes, tirSuffixes, tirNegPatterns}

    private def stripSuffixes(w: String, glosses: List[String],
        depth: Int,
        out: scala.collection.mutable.Builder[String, Seq[String]])
        : Unit = {
      // gloss segment ORDER is irrelevant downstream (glossSet unions
      // the [-.] split), so parses are emitted stem-first throughout
      if (w.length >= 2) out += (w :: glosses).mkString("-")
      if (depth > 0)
        for {
          (suf, gloss) <- tirSuffixes
          surface <- Seq(suf, "ɨ" + suf) // epenthetic ɨ, INSERT_I
          if w.length > surface.length + 1 && w.endsWith(surface)
        } stripSuffixes(w.dropRight(surface.length), gloss :: glosses,
          depth - 1, out)
    }

    override def parses(token: String): Seq[String] = {
      val w = token.replace("”", "").replace("“", "").replace("`", "")
      if (w.isEmpty) return Nil
      val out = Seq.newBuilder[String]
      // circumfix negation first (tir_morph.py:341-347)
      val afterNeg: Seq[(String, List[String])] =
        (w, Nil: List[String]) +: tirNegPatterns.flatMap { p =>
          p.findFirstMatchIn(w).map(m => (m.group(1), List("NEG"))).toSeq
        }
      for ((w1, negG) <- afterNeg) {
        // optional single prefix (REL/CONJ/TENSE/PREP/VDERIV slots)
        val afterPre: Seq[(String, List[String])] =
          (w1, negG) +: tirPrefixes.collect {
            case (pre, gloss) if w1.length > pre.length + 1 &&
                w1.startsWith(pre) =>
              (w1.drop(pre.length), gloss :: negG)
          }
        for ((w2, g) <- afterPre) stripSuffixes(w2, g, 2, out)
      }
      out.result().distinct
    }
  }

  /** Prefix table (surface → gloss), verbatim from tir_morph.py
    * REL:332, CONJ_PREF:335-337, TENSE:348-351, PREP:419-428,
    * VDERIV_PREF:439-443. */
  val tirPrefixes: Seq[(String, String)] = Seq(
    "zɨ" -> "REL",
    "ki" -> "CONJ", "mɨ" -> "CONJ",
    "kɨ" -> "FUT", "tə" -> "PERF", "jɨ" -> "PERF",
    "bɨzəjɨ" -> "PREP", "bɨzaʕɨba" -> "PREP", "dɨħɨri" -> "PREP",
    "qɨdɨmi" -> "PREP", "kabɨ" -> "PREP", "kəmɨ" -> "PREP",
    "mɨsɨ" -> "PREP", "bɨ" -> "PREP", "nɨ" -> "PREP",
    "ʔɨtɨ" -> "REL", "ʔɨnɨ" -> "1PL.REL", "ʔɨtə" -> "PASS",
    "ʔɨ" -> "PRES")

  /** Suffix table (surface → gloss), verbatim from tir_morph.py
    * NUMBER:353-365, POSS:367-383, PRONCLITIC_OBLIQ:385-398,
    * PRONCLITIC_OBJ:400-417, CASE_SUF:446, CONJ_SUF:449-451,
    * ADJECTIVAL:453-457, NOMINAL:464-468. Longest-first so e.g.
    * `wɨjan` wins before `n`. */
  val tirSuffixes: Seq[(String, String)] = Seq(
    "tat" -> "PL", "at" -> "PL", "ot" -> "PL", "wɨti" -> "PL",
    "ɨti" -> "PL",
    "əj" -> "1SG.POSS", "j" -> "1SG.POSS",
    "ka" -> "2SG.MASC.POSS", "ki" -> "2SG.FEM.POSS",
    "ʔu" -> "3SG.MASC.POSS", "u" -> "3SG.MASC.POSS",
    "ʔa" -> "3SG.FEM.POSS", "a" -> "3SG.FEM.POSS",
    "na" -> "1PL.POSS", "kum" -> "2PL.MASC.POSS",
    "kən" -> "2PL.FEM.POSS",
    "ʔom" -> "3PL.MASC.POSS", "om" -> "3PL.MASC.POSS",
    "ʔen" -> "3PL.FEM.POSS", "ən" -> "3PL.FEM.POSS",
    "ləj" -> "1SG.OBL", "lɨka" -> "2SG.MASC.OBL",
    "lɨki" -> "2SG.FEM.OBL", "lu" -> "3SG.MASC.OBL",
    "la" -> "3SG.FEM.OBL", "lɨna" -> "1PL.OBL",
    "lɨkum" -> "2PL.MASC.OBL", "lɨn" -> "2PL.FEM.OBL",
    "lom" -> "3PL.MASC.OBL", "lən" -> "3PL.FEM.OBL",
    "ni" -> "1SG.OBJ", "jo" -> "3SG.MASC.OBJ", "wo" -> "3SG.MASC.OBJ",
    "ja" -> "3SG.FEM.OBJ", "wa" -> "3SG.FEM.OBJ",
    "jom" -> "3PL.MASC.OBJ", "jən" -> "3PL.FEM.OBJ",
    "kɨn" -> "2PL.FEM.OBJ",
    "wɨn" -> "CONJ", "n" -> "ACC",
    "awi" -> "ADJ", "jawi" -> "ADJ", "wi" -> "ADJ",
    "wɨjan" -> "NOM.MASC", "wijan" -> "NOM", "wit" -> "NOM.FEM")
    .sortBy { case (s, _) => -s.length }

  /** Circumfix negation patterns, tir_morph.py:341-347. */
  val tirNegPatterns: Seq[scala.util.matching.Regex] = Seq(
    "^ʔajɨtɨ(.+)ɨn$".r, "^ʔajɨ(.+)ɨn$".r, "^ʔajɨ(.+)n$".r,
    "^ʔaj(.+)ɨn$".r, "^ʔaj(.+)n$".r)

  /** The tir analyzer instance (stateless). */
  lazy val tirAnalyzer: TirAnalyzer = new TirAnalyzer

  /** The 18 gloss sets, verbatim from segnerfts.py:706-728, in slot
    * order. Names are ours; sets are the reference's. */
  val featureNames: IndexedSeq[String] = IndexedSeq(
    "m_persnum", "m_obj", "m_poss", "m_obl", "m_gender", "m_pl",
    "m_def", "m_nom", "m_gen", "m_dat", "m_inst", "m_abl", "m_conj",
    "m_tense", "m_pol", "m_juss", "m_inf", "m_adj")

  val featureSets: IndexedSeq[Set[String]] = IndexedSeq(
    Set("1SG", "1PL", "2SG", "2PL", "3SG", "3PL", "PL"), // person-number
    Set("OBJ"),
    Set("POSS"),
    Set("OBL"),
    Set("FEM", "MASC", "F", "M"), // gender
    Set("PL"),
    Set("DEF"),
    Set("NOM"),
    Set("GEN"),
    Set("DAT"),
    Set("INST"),
    Set("ABL"),
    Set("AND", "CONJ"),
    Set("PST", "PRS", "PAST", "PRES"), // tense
    Set("AFF", "NEG"), // polarity
    Set("JUSS"),
    Set("INF"),
    Set("ADJ"))

  private val glossDelim = "[-.]"

  /** Union of gloss segments over ALL parses (BEST_PARSE=False). */
  def glossSet(parses: Seq[String]): Set[String] =
    parses.iterator.flatMap(_.split(glossDelim)).toSet

  /** The 18 booleans for one token. */
  def features(token: String, analyzer: Analyzer): IndexedSeq[Boolean] = {
    val g = glossSet(analyzer.parses(token))
    if (g.isEmpty) featureSets.map(_ => false)
    else featureSets.map(fs => fs.exists(g.contains))
  }

  /** Bitmask form (bit i = featureSets(i)), the shape the fused decode
    * kernel consumes — for eng it is constantly 0, which is exactly
    * why the kernel omits the block (segnerfts.py:89-94; SURVEY §2.3). */
  def bits(token: String, analyzer: Analyzer): Int = {
    val f = features(token, analyzer)
    var m = 0; var i = 0
    while (i < f.length) { if (f(i)) m |= 1 << i; i += 1 }
    m
  }
}
