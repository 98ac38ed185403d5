package graft

import graft.features.Morph
import org.scalatest.funsuite.AnyFunSuite

/** ex_morph semantics goldens (segnerfts.py:104-115, 706-728). */
class MorphSpec extends AnyFunSuite {

  test("18 feature sets, not the reference's stale 23-slot constant") {
    assert(Morph.featureSets.length == 18)
    assert(Morph.featureNames.length == 18)
  }

  test("empty analyzer (eng/deu/amh/som) -> every feature false") {
    val f = Morph.features("Running", Morph.EmptyAnalyzer)
    assert(f.forall(_ == false))
    assert(Morph.bits("word", Morph.forLang("eng")) == 0)
    assert(Morph.bits("Wort", Morph.forLang("deu")) == 0)
  }

  test("gloss strings split on '-' AND '.'") {
    val a = new Morph.SuffixStubAnalyzer(Seq("koo" -> "POSS.1SG"))
    val f = Morph.featureNames.zip(Morph.features("manakoo", a)).toMap
    assert(f("m_poss"), "POSS from dot-separated gloss")
    assert(f("m_persnum"), "1SG from dot-separated gloss")
    assert(!f("m_pl"))
  }

  test("union over ALL parses (BEST_PARSE=False)") {
    val a = new Morph.SuffixStubAnalyzer(
      Seq("ani" -> "NOM", "ni" -> "DAT")) // both match 'gurbaani'
    val f = Morph.featureNames.zip(Morph.features("gurbaani", a)).toMap
    assert(f("m_nom") && f("m_dat"))
  }

  test("PL tag sets both plural and person-number (shared tag)") {
    val f = Morph.featureNames
      .zip(Morph.features("namoota", Morph.forLang("orm"))).toMap
    assert(f("m_pl") && f("m_persnum"))
    assert(!f("m_nom") && !f("m_gender"))
  }

  test("no parse -> all false; suffix must be proper (token longer)") {
    val a = new Morph.SuffixStubAnalyzer(Seq("oota" -> "PL"))
    assert(Morph.features("xyz", a).forall(_ == false))
    assert(Morph.features("oota", a).forall(_ == false),
      "whole-token suffix is not a parse")
  }

  test("lexicon-backed analyzer: shipped-lexicon stems parse with " +
      "real suffix glosses (orm_lexicon.txt)") {
    val path = graft.core.RefData.ormLexicon.path.toString
    assume(new java.io.File(path).exists())
    val a = Morph.lexiconAnalyzer(path)
    // 'aadaa' = culture (lexicon row); normalization folds aa→a
    assert(Morph.glossSet(a.parses("aadaa")).contains("culture"))
    // inflected: aadaa + -n (NOM) — parse = stem gloss + suffix gloss
    val nom = Morph.glossSet(a.parses("aadaan"))
    assert(nom.contains("culture") && nom.contains("NOM"),
      s"got $nom")
    assert(Morph.features("aadaan", a)(
      Morph.featureNames.indexOf("m_nom")))
    // instrumental: aadaa + -tiin
    val inst = Morph.glossSet(a.parses("aadaatiin"))
    assert(inst.contains("INST"), s"got $inst")
    // possessive chain: aadaa + -koo (+ case) → POSS fires
    assert(Morph.features("aadaakoo", a)(
      Morph.featureNames.indexOf("m_poss")))
    // unknown token: no parses, all features false
    assert(Morph.features("zzqqpp", a).forall(_ == false))
  }

  test("lexicon analyzer normalizes like the reference (ormnorm rules " +
      "applied to stems, suffixes, and tokens)") {
    assert(Morph.ormNormalizeString("aadaa") == "ada")
    assert(Morph.ormNormalizeString("AADAA") == "ada")
    assert(Morph.ormSuffixes.contains("tin" -> "INST"))
    assert(Morph.ormSuffixes.contains("ota" -> "PL"))
  }

  test("tir analyzer: goldens from tir_morph.py's own in-table " +
      "examples (IPA form; Ge'ez→IPA g2p stays the documented plug)") {
    val a = Morph.tirAnalyzer
    // ʕarat-at 'beds' (tir_morph.py:354) and ɡəza-wɨti 'houses' (:361)
    assert(Morph.glossSet(a.parses("ʕaratat")).contains("PL"))
    assert(Morph.glossSet(a.parses("ɡəzawɨti")).contains("PL"))
    // ʔerɨtɨra-wɨjan 'Eritrean nationals' (:465): NOM.MASC nominal
    val nom = Morph.glossSet(a.parses("ʔerɨtɨrawɨjan"))
    assert(nom.contains("NOM") && nom.contains("MASC"), s"got $nom")
    assert(Morph.features("ʔerɨtɨrawɨjan", a)(
      Morph.featureNames.indexOf("m_nom")))
    // circumfix negation ʔaj...ɨn (:341)
    val neg = Morph.glossSet(a.parses("ʔajkədəmɨn"))
    assert(neg.contains("NEG"), s"got $neg")
    assert(Morph.features("ʔajkədəmɨn", a)(
      Morph.featureNames.indexOf("m_pol")))
    // PREP prefix bɨ- (:419) and possessive -na (:375)
    assert(Morph.glossSet(a.parses("bɨɡəza")).contains("PREP"))
    val poss = Morph.glossSet(a.parses("ɡəzana"))
    assert(poss.contains("POSS") && poss.contains("1PL"), s"got $poss")
    assert(Morph.features("ɡəzana", a)(
      Morph.featureNames.indexOf("m_poss")))
    // future kɨ- (:348) feeds no m_tense set member — but the parse
    // carries FUT faithfully
    assert(Morph.glossSet(a.parses("kɨkədəm")).contains("FUT"))
    // every parse keeps a non-empty stem; unparseable 1-char → trivial
    assert(a.parses("ʔ").isEmpty || a.parses("ʔ").forall(_.nonEmpty))
  }

  test("bits mask matches boolean vector") {
    val a = Morph.forLang("orm")
    val f = Morph.features("namoota", a)
    val m = Morph.bits("namoota", a)
    f.zipWithIndex.foreach { case (b, i) =>
      assert(((m >> i) & 1) == (if (b) 1 else 0))
    }
  }
}
