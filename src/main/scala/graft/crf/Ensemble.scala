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
  *
  * Both decode the eng [[TokenFeatures]] through
  * [[DecodeKernel.decoder]].
  */
object Ensemble {

  /** Element-wise mean of K weights-only models (decoders.py:210-213).
    * A model with a token term (word, shape or cluster rows, a nonzero
    * `shapeDefault`) or λ ≠ 1 fails, naming what the mean would drop. */
  def average(models: Seq[Model]): Model = {
    require(models.nonEmpty)
    models.zipWithIndex.foreach { case (m, i) =>
      require(m.beyondWeights.isEmpty, s"Ensemble.average averages " +
        s"weights-only models; model $i would lose " +
        m.beyondWeights.mkString(", "))
    }
    val k = models.size.toFloat
    val em = Array.tabulate(Dict.K, Features.numFeatures) { (t, f) =>
      models.map(_.featW(t)(f)).sum / k
    }
    val tr = Array.tabulate(Dict.K + 2, Dict.K + 2) { (a, b) =>
      models.map(_.trans(a)(b)).sum / k
    }
    Model.weights(em, tr)
  }

  def ensembleTag(sentences: Dataset[Sentence], models: Seq[Model])
      : Dataset[TaggedSentence] =
    DecodeKernel.tag(sentences,
      DecodeKernel.decoder(TokenFeatures.eng, average(models)))

  /** Route each sentence to one of `models` by `selector` (e.g. genre
    * from the doc id — main.py:388-401's SN check). One kernel per model
    * and task, no branching in the plan. */
  def routedTag(sentences: Dataset[Sentence], models: IndexedSeq[Model],
      selector: Sentence => Int): Dataset[TaggedSentence] = {
    val ds = models.map(DecodeKernel.decoder(TokenFeatures.eng, _))
    DecodeKernel.tag(sentences, sc => {
      val opens = ds.map(_(sc))
      () => { val decodes = opens.map(_()); s => decodes(selector(s))(s) }
    })
  }
}
