package graft.features

import graft.core.Dict

/** The reference's discrete indicator features (SURVEY.md §2.3).
  *
  * 24 features per token = 15 type/token (utils/segnerfts/segnerfts.py
  * feature indices 0-14, composed at 747-749) + 9 gazetteer
  * (b_gaz×4 / i_gaz×4 / o_gaz, segnerfts.py:55-85, index range 15-23 per
  * segnerfts.py:732-735). Morph features (24-46) are always-False for
  * eng (segnerfts.py:88-94) and out of scope (SURVEY.md §7.6).
  *
  * Packed as an Int bitmask per token (bit f = feature f fired) — the
  * emission dot product then walks set bits only. Every type/token bit
  * is below every gazetteer bit, which lets the decode kernel
  * ([[graft.crf.DecodeKernel]]) memoize a token's [[tokenBits]]
  * emission and add the sentence's [[gazMarks]] after it with the same
  * float result as [[graft.crf.Crf.emit]] (or
  * [[graft.crf.FitCrf.emit]]) over the full mask. Pure
  * Scala, used inside the fused segment→featurize→Viterbi
  * mapPartitions kernel; a Column-expression twin for the
  * relational/oracle path lives in [[graft.SparkEntry]] queries.
  */
object Features {

  val numFeatures = 24
  // type/token features, same order as the reference's extractor zip
  val CAPITALIZED = 0      // segnerfts.py:124-125
  val ALL_UPPER = 1        // :128-129 (false if ANY char non-upper)
  val MIXED_CASE = 2       // :132-136 (w[1:] has both cases)
  val INTERNAL_PERIOD = 3  // :139-140 (len>2 and '.' in w[1:-1])
  val NON_LETTER = 4       // :143-144 (any char not Letter/Mark)
  val DIGITS = 5           // :147-148
  val LONG_TOKEN = 6       // :121,151-152 (len > 8)
  val CONTAINS_LATIN = 7   // :155-156
  val CONTAINS_ETHIOPIC = 8 // :159-160
  val TITLE = 9            // :163-360 (token itself, not predecessor)
  val HEAD_ORG = 10        // :363-467
  val HEAD_LOC = 11        // :470-566
  val HEAD_GPE = 12        // :569-658
  val PREP_FROM = 13       // :661-668
  val PREP_IN = 14         // :671-678
  val B_GAZ = 15           // +typeIdx(GPE,LOC,ORG,PER)  :55-62
  val I_GAZ = 19           // +typeIdx                   :65-73
  val O_GAZ = 23           // :76-85

  /** Type/token features of one token (bits 0-14). */
  def tokenBits(w: String): Int = {
    var m = 0
    val n = w.length
    if (n > 0 && Character.isUpperCase(w.charAt(0))) m |= 1 << CAPITALIZED
    if (n > 0 && w.forall(Character.isUpperCase)) m |= 1 << ALL_UPPER
    if (n > 1) {
      val rest = w.substring(1)
      if (rest.exists(Character.isUpperCase) &&
          rest.exists(Character.isLowerCase)) m |= 1 << MIXED_CASE
    }
    if (n > 2 && w.substring(1, n - 1).contains('.'))
      m |= 1 << INTERNAL_PERIOD
    if (w.exists { c =>
      val t = Character.getType(c)
      !(Character.isLetter(c) ||
        t == Character.NON_SPACING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.ENCLOSING_MARK)
    }) m |= 1 << NON_LETTER
    if (w.exists(Character.isDigit)) m |= 1 << DIGITS
    if (n > 8) m |= 1 << LONG_TOKEN
    if (w.exists(c => Character.UnicodeScript.of(c) ==
        Character.UnicodeScript.LATIN)) m |= 1 << CONTAINS_LATIN
    if (w.exists(c => Character.UnicodeScript.of(c) ==
        Character.UnicodeScript.ETHIOPIC)) m |= 1 << CONTAINS_ETHIOPIC
    if (Dict.titles.contains(w)) m |= 1 << TITLE
    if (Dict.orgHeads.contains(w)) m |= 1 << HEAD_ORG
    if (Dict.locHeads.contains(w)) m |= 1 << HEAD_LOC
    if (Dict.gpeHeads.contains(w)) m |= 1 << HEAD_GPE
    val lw = w.toLowerCase(java.util.Locale.ROOT)
    if (lw == "from") m |= 1 << PREP_FROM
    if (lw == "in") m |= 1 << PREP_IN
    m
  }

  /** Full 24-bit masks for a sentence: [[tokenBits]] per token plus
    * [[gazMarks]] over the lowercased tokens. */
  def sentenceBits(
      tokens: Array[String],
      gazIndex: Map[String, Vector[(Vector[String], String, Int)]])
      : Array[Int] = {
    val masks =
      gazMarks(tokens.map(_.toLowerCase(java.util.Locale.ROOT)), gazIndex)
    var i = 0
    while (i < masks.length) { masks(i) |= tokenBits(tokens(i)); i += 1 }
    masks
  }

  /** Gazetteer B/I/O bits (15-23) of a sentence from its lowercased
    * tokens, via the broadcast n-gram index (longest entry first, all
    * matches marked — reference marks every matching entry's positions
    * independently, segnerfts.py:55-85). The one eng gazetteer marker:
    * [[sentenceBits]] and the eng decode kernel
    * ([[graft.crf.TokenFeatures.eng]]) both call it. */
  def gazMarks(
      lower: Array[String],
      gazIndex: Map[String, Vector[(Vector[String], String, Int)]])
      : Array[Int] = {
    val n = lower.length
    val masks = new Array[Int](n)
    val covered = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      gazIndex.get(lower(i)).foreach { entries =>
        entries.foreach { case (toks, label, _) =>
          val len = toks.length
          if (i + len <= n) {
            var k = 1
            var ok = true
            while (ok && k < len) { ok = lower(i + k) == toks(k); k += 1 }
            if (ok) {
              val ti = Dict.entityTypes.indexOf(label)
              masks(i) |= 1 << (B_GAZ + ti)
              covered(i) = true
              var p = 1
              while (p < len) {
                masks(i + p) |= 1 << (I_GAZ + ti)
                covered(i + p) = true
                p += 1
              }
            }
          }
        }
      }
      i += 1
    }
    i = 0
    while (i < n) { if (!covered(i)) masks(i) |= 1 << O_GAZ; i += 1 }
    masks
  }
}
