package graft.crf

import graft.core.{Dict, LangDict}
import graft.features.{Features, LangFeatures}

/** What a model reads of the text, the part of decoding and fitting
  * that varies by language: a token's type bits (0–14, a function of
  * the token alone, so [[DecodeKernel]] memoizes them per token string)
  * and a sentence's gazetteer bits (15–23) from its tokens and their
  * lowercase forms. One of two values: [[TokenFeatures.eng]] or
  * [[TokenFeatures.lang]]. */
final class TokenFeatures private (
    val typeBits: String => Int,
    val gazBits: (Array[String], Array[String]) => Array[Int])
    extends Serializable {

  /** The full 24-bit masks of a sentence. */
  def sentenceBits(tokens: Array[String]): Array[Int] = {
    val masks =
      gazBits(tokens, tokens.map(_.toLowerCase(java.util.Locale.ROOT)))
    var i = 0
    while (i < masks.length) { masks(i) |= typeBits(tokens(i)); i += 1 }
    masks
  }
}

object TokenFeatures {

  /** eng: [[Features.tokenBits]] per token, [[Features.gazMarks]] of the
    * lowercase tokens over [[Dict.gazIndex]]. */
  lazy val eng: TokenFeatures = {
    val gaz = Dict.gazIndex
    new TokenFeatures(Features.tokenBits, (_, lower) =>
      Features.gazMarks(lower, gaz))
  }

  /** Language `lang`'s [[LangFeatures.typeTokenBits]] per token and the
    * case-sensitive [[LangFeatures.gazBits]] of the tokens over `gaz`. */
  def lang(lang: String, gaz: LangDict.Gaz): TokenFeatures =
    new TokenFeatures(LangFeatures.typeTokenBits(lang, _), (tokens, _) =>
      LangFeatures.gazBits(tokens, gaz))
}
