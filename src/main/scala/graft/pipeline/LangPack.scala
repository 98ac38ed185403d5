package graft.pipeline

import graft.core.{Dict, Sentence, TaggedSentence}
import graft.crf.{Crf, LangModel}
import org.apache.spark.SparkContext

/** Everything in the pipeline that varies by language, picked once.
  *
  * The reference's `test_1` runs one post-processing pipeline for any
  * of its six languages (main.py:485-565, keyed on `args.lang`), so
  * [[Pipeline]] states its stages once and takes the per-language
  * pieces from here:
  *  - `decoder`: broadcasts the model and gaz on the driver and returns
  *    the task-side factory, which reads the broadcasts once per
  *    partition and yields the per-sentence decode of a fresh
  *    [[graft.crf.DecodeKernel]] (its token memo lives for the task).
  *    Only broadcast handles are captured, never the model itself.
  *  - `lookup`/`lookupIndex`: the post-process fix-up table and its
  *    first-token index (fix-up and insertion never consult English
  *    entries on a non-eng corpus).
  *  - `index`/`kbId`: the [[graft.link.Linker]] entity index and KB id
  *    space.
  *
  * eng is one value of this type: the engine model ([[Crf]]) and
  * dictionary ([[Dict]]). Every other language uses its
  * [[LangModel]] fit and tables derived from its reference gaz.
  */
final class LangPack private (
    val decoder: SparkContext => () => Sentence => TaggedSentence,
    val lookup: Map[String, String],
    val lookupIndex: Map[String, Vector[(Vector[String], String)]],
    val index: Map[String, Vector[(Vector[String], String, Int)]],
    val kbId: Int => String)

object LangPack {

  def apply(lang: String): LangPack =
    if (lang == "eng")
      new LangPack(
        sc => {
          val bW = sc.broadcast(Crf.emissionWeights)
          val bT = sc.broadcast(Crf.transitions)
          val bGaz = sc.broadcast(Dict.gazIndex)
          () => Crf.kernel(bW.value, bT.value, bGaz.value).decode
        },
        Dict.lookupTable, Dict.lookupIndex, Dict.gazIndex, Dict.kbId)
    else {
      val gaz = LangModel.gazFor(lang)
      new LangPack(
        sc => {
          val bM = sc.broadcast(LangModel.fitted(lang))
          val bG = sc.broadcast(gaz)
          () => LangModel.kernel(lang, bG.value, bM.value).decode
        },
        LangModel.lookupTable(gaz), LangModel.lookupIndex(gaz),
        LangModel.linkIndex(gaz), LangModel.kbId(lang))
    }
}
