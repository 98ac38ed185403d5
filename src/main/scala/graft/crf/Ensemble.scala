package graft.crf

import graft.core.{Dict, Sentence, TaggedSentence}
import graft.features.Features
import org.apache.spark.sql.Dataset

/** Ensemble + routed decoding (SURVEY.md §2.8, §3.3).
  *
  * - [[ensembleTag]]: K models' emission weights and transition
  *   matrices are averaged, then the standard Viterbi kernel decodes —
  *   exact semantics of ensemble_viterbi_decoding
  *   (models/decoders.py:202-238, mean at 210-213), incl. the same
  *   [:-2] virtual-tag handling and first-max tie-break, done once on
  *   the driver (weights are tiny) and broadcast.
  * - [[routedTag]]: per-row conditional model choice — the reference's
  *   test_2 mode routes each sentence to a lowercase or standard model
  *   by doc genre (main.py:379-482); here a selector function picks the
  *   model index per sentence inside the same fused kernel (no split /
  *   union / re-shuffle).
  */
object Ensemble {

  final case class Model(
      emissions: Array[Array[Float]], transitions: Array[Array[Float]])

  /** Element-wise mean of K models (decoders.py:210-213). */
  def average(models: Seq[Model]): Model = {
    require(models.nonEmpty)
    val k = models.size.toFloat
    val em = Array.tabulate(Dict.K, Features.numFeatures) { (t, f) =>
      models.map(_.emissions(t)(f)).sum / k
    }
    val tr = Array.tabulate(Dict.K + 2, Dict.K + 2) { (a, b) =>
      models.map(_.transitions(a)(b)).sum / k
    }
    Model(em, tr)
  }

  def ensembleTag(sentences: Dataset[Sentence], models: Seq[Model])
      : Dataset[TaggedSentence] = {
    val avg = average(models)
    DecodeKernel.tag(sentences,
      DecodeKernel.crf(avg.emissions, avg.transitions))
  }

  /** Route each sentence to one of `models` by `selector` (e.g. genre
    * from the doc id — main.py:388-401's SN check). One kernel per model
    * and task, no branching in the plan. */
  def routedTag(sentences: Dataset[Sentence], models: IndexedSeq[Model],
      selector: Sentence => Int): Dataset[TaggedSentence] =
    DecodeKernel.tag(sentences, DecodeKernel.decoder((models, Dict.gazIndex)) {
      case (ms, gaz) =>
        val ks = ms.map(m =>
          DecodeKernel.crfKernel(m.emissions, m.transitions, gaz))
        s => ks(selector(s)).decode(s)
    })
}
