package graft.pipeline

import graft.core.Dict
import graft.crf.{Crf, DecodeKernel, LangModel, Model, TokenFeatures}

/** Everything in the pipeline that varies by language, picked once.
  *
  * The reference's `test_1` runs one post-processing pipeline for any
  * of its six languages (main.py:485-565, keyed on `args.lang`), so
  * [[Pipeline]] states its stages once and takes the per-language
  * pieces from here:
  *  - `features`/`model`: what the decode reads of the text
  *    ([[TokenFeatures]]) and the one [[Model]] it scores with;
  *    `decoder` is their [[DecodeKernel.Decoder]], the one serve-time
  *    decode shell (broadcast model + gaz, one memoized [[DecodeKernel]]
  *    per task).
  *  - `lookup`/`lookupIndex`: the post-process fix-up table and its
  *    first-token index (fix-up and insertion never consult English
  *    entries on a non-eng corpus).
  *  - `index`/`kbId`: the [[graft.link.Linker]] entity index and KB id
  *    space.
  *
  * eng is one value of this type: the eng features, the weights-only
  * engine model ([[Crf.emissionWeights]], [[Crf.transitions]]) and
  * dictionary ([[Dict]]). Every other language uses its [[LangModel]]
  * fit and tables derived from its reference gaz.
  */
final class LangPack(
    val features: TokenFeatures,
    val model: Model,
    val lookup: Map[String, String],
    val lookupIndex: Map[String, Vector[(Vector[String], String)]],
    val index: Map[String, Vector[(Vector[String], String, Int)]],
    val kbId: Int => String) {

  def decoder: DecodeKernel.Decoder = DecodeKernel.decoder(features, model)
}

object LangPack {

  def apply(lang: String): LangPack =
    if (lang == "eng")
      new LangPack(TokenFeatures.eng,
        Model.weights(Crf.emissionWeights, Crf.transitions),
        Dict.lookupTable, Dict.lookupIndex, Dict.gazIndex, Dict.kbId)
    else {
      val gaz = LangModel.gazFor(lang)
      new LangPack(TokenFeatures.lang(lang, gaz), LangModel.fitted(lang),
        LangModel.lookupTable(gaz), LangModel.lookupIndex(gaz),
        LangModel.linkIndex(gaz), LangModel.kbId(lang))
    }
}
